package graft.queries

import graft.{Query, QueryModule, Scratch, Tables}
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM-data pipeline over `documents`:
  * token statistics, quality scoring, language-ID heuristic, document
  * fingerprinting, n-gram mining, TF-IDF.
  *
  * Everything is built from codegen'd `functions._` column expressions —
  * no UDFs — so the whole pipeline stays inside WholeStageCodegen and
  * scales embarrassingly (per-row work, no shuffle except final aggs).
  *
  * Cross-engine exactness: counts are integers; ratios are single
  * divisions of identical integers; ln-based scores are scaled to
  * integers via round(x*1e6) (a 1-ulp libm difference cannot move the
  * rounded integer because the true value is never within 1e-8 of a
  * tie boundary for irrational inputs).
  */
object TextAnalysis extends QueryModule {

  /** English stopword set for the quality-scoring heuristic. Kept tiny
    * + fixed so the SQL oracle can inline it.
    */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopwordsSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** Per-language function-word profiles for the language-ID heuristic
    * (the classic stopword-density n-gram-free approach).
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"))

  private def toks: Column = Text.tokens(col("text"))

  /** count of tokens that are in the stopword list (with multiplicity) */
  private def stopCount(t: Column): Column =
    size(filter(t, w => w.isin(stopwords: _*))).cast("long")

  /** Global running total of `valCol` in `orderCols` order as a
    * DISTRIBUTED two-pass prefix sum — the scalable replacement for an
    * unpartitioned window (which drags the whole relation into one
    * task):
    *
    *  1. shard on `shardOf` (any expression monotone in the order key:
    *     shards partition the order);
    *  2. within-shard running sums via a PARTITIONED window;
    *  3. per-shard totals -> driver (O(#shards) metadata, the same
    *     trick `RDD.zipWithIndex` uses), scanned into shard offsets,
    *     broadcast-joined back.
    *
    * Output column `cum` is the inclusive running total; values are
    * identical to the single-window formulation for any shard width.
    */
  private[queries] def shardedCum(df: DataFrame, shardOf: Column,
      orderCols: Seq[String], valCol: String): DataFrame = {
    val s = df.sparkSession
    val t = df.withColumn("_shard", shardOf.cast("long"))
    val w = Window.partitionBy("_shard")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = t.withColumn("_lcum", sum(col(valCol)).over(w))
    val totals = t.groupBy("_shard")
      .agg(sum(col(valCol)).as("_tot"))
      .orderBy("_shard")
      .collect() // metadata-sized: one row per shard, not per input row
    var acc = 0L
    val offs = totals.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }.toSeq
    import s.implicits._
    local
      .join(broadcast(offs.toDF("_shard", "_off")), "_shard")
      .withColumn("cum", col("_lcum") + col("_off"))
      .drop("_shard", "_lcum", "_off")
  }

  /** Number of BPE merge rounds for the registered queries — small
    * enough that the DuckDB oracle can unroll one CTE chain per round
    * (the kmeansRoundSql discipline), large enough that multi-char
    * subwords emerge ("th", "the", "in", ...).
    */
  val BPE_MERGES = 10

  /** Prefix-free segmentation encoding shared by training and encode:
    * every symbol is wrapped as `|sym|`, so one left-to-right
    * non-overlapping `replace("|l||r|" -> "|lr|")` pass is EXACTLY one
    * BPE merge application — a pattern can never match across symbol
    * boundaries (symbols contain no '|', and both delimiters travel
    * with the symbol), and one pass reaches the rank's fixpoint
    * (merging (l,r) never creates a new (l,r) adjacency: the merged
    * symbol is `lr`, not `l`). String replace has identical
    * left-to-right semantics in Spark and DuckDB, which is what makes
    * BOTH training and encoding value-exact under the oracle.
    */
  private def segInit(w: Column): Column =
    concat(lit("|"),
      array_join(filter(split(w, ""), c => length(c) > 0), "||"), lit("|"))

  /** Corpus word-frequency table — the input BPE trains on (training
    * statistics live on the deduplicated word table, not the raw
    * corpus: the distributed part of tokenizer training is exactly
    * this aggregation; the merge loop below is bounded by |vocab|).
    */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(graft.functions.TokenizeExplode
        .tokenize(s, lower(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** BPE training (Sennrich et al. 2016), with EXACT batched rounds.
    *
    * Each round is one distributed pair-count aggregate (adjacent
    * symbol pairs, weighted by word frequency; overlapping occurrences
    * count, the standard convention) + ONE top-K collect, from which
    * the driver accepts a PREFIX of the (cnt DESC, l, r)-ordered
    * candidates — as many merges as are provably identical to running
    * argmax-then-recount one merge at a time — then applies the whole
    * batch in one codegen'd replace pass over the vocab-sized
    * segmentation table. Driver state is nMerges rows + one K-row
    * scratch — bounded metadata. Returns (rank, l, r, cnt) merges in
    * training order, bit-identical to the sequential algorithm (the
    * oracle pins strict rank order; BpeSpec pins batched == sequential
    * on corpora engineered to stress every stop rule).
    *
    * A candidate extends the accepted prefix only while ALL of:
    *   1. its symbols don't appear in any accepted pair, nor equal any
    *      accepted pair's CONCATENATION (the new symbol's string): such
    *      pairs' counts change under the batch (destroyed occurrences,
    *      or absorbed occurrences of the just-created symbol), so their
    *      rank is stale;
    *   2. its count strictly exceeds every accepted merge j's new-pair
    *      bound min(cnt_j, adjMax_j): a pair CREATED by merge j —
    *      (x, l_j r_j) or (l_j r_j, y) — occurs at most at every merge
    *      site (<= cnt_j) and at most wherever x preceded l_j / y
    *      followed r_j (<= the largest old count adjacent to the merged
    *      pair, with the K-th collected count as the floor for
    *      uncollected adjacents). Strict inequality also settles
    *      (cnt, l, r) ties against created pairs.
    * The walk STOPS at the first violation (never skips): a skipped
    * candidate's post-batch count is unknown, so everything ranked
    * after it must wait for the next round's recount. Rounds therefore
    * adapt to the corpus: early character merges (where the created
    * symbol immediately dominates) batch little, the long tail batches
    * heavily — round-trips stay well sublinear in nMerges at the scale
    * regime (the `scaled_bpe_*` Bench rows) with zero output drift.
    */
  def bpeTrain(words: DataFrame, nMerges: Int): Seq[(Long, String, String, Long)] =
    bpeTrainRounds(words, nMerges)._1

  /** [[bpeTrain]] plus the number of distributed rounds it took — the
    * driver-round-trip count the batching exists to shrink.
    */
  def bpeTrainRounds(words: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, Long)], Int) = {
    // r17 (guide §1.2 — per-round fixed cost dominates this
    // driver-round-bound loop): the segmentation table is checkpointed
    // every CP_EVERY rounds instead of every round. Between
    // checkpoints the pending replace batches stay a lazy map-only
    // projection fused into the next round's pair-count scan, so ~3/4
    // of the per-round materialization jobs disappear while lineage
    // depth stays bounded at CP_EVERY batch layers. Values are
    // untouched — the replace chain is applied identically either way
    // (BpeSpec pins batched == sequential).
    // The two constants are the measured local values:
    //   CP_EVERY — deeper lineage = fewer materialization jobs but more
    //     replace batches re-executed per scan (and a longer nested
    //     call_function("replace") chain: past ~4 batch layers
    //     wide-batch rounds risk codegen-size fallback);
    //   SEG_PARTS — the seg table is vocab-sized (~100k short rows at
    //     the deep-merge regime) and every one of the ~hundred rounds
    //     launches tasks over it: 32 partitions paid 4x the task
    //     scheduling for no parallelism gain on rows this small. Kept
    //     >1 so a giant-vocab corpus still spreads.
    //   TOP_K — the per-round candidate collect: a larger K lowers the
    //     count FLOOR assumed for uncollected adjacent pairs (the K-th
    //     count), tightening the created-pair bound and so lengthening
    //     the provably-safe batch prefix, at the cost of a bigger driver
    //     collect; on the deep-merge regime K = 1024 and 4096 took the
    //     same rounds as 256 (OPTIMIZATION_r17/r18), so the floor is
    //     symbol-conflict limited, not bound limited.
    val CP_EVERY = 4
    val SEG_PARTS = 8
    val TOP_K = 256
    var segCp = words.select(col("freq"), segInit(col("w")).as("seg"))
      .coalesce(SEG_PARTS)
      .localCheckpoint() // vocab-sized; truncates the per-round lineage
    var seg = segCp
    var sinceCp = 0
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var k = 1
    var rounds = 0
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      // r18: fused adjacent-pair generator (one byte scan per row) in
      // place of regex split + interpreted transform + explode — see
      // graft.functions.BpePairExplode for the bit-exactness argument
      val pairs = seg
        .select(col("freq"), graft.functions.BpePairExplode
          .pairs(words.sparkSession, col("seg")).as(Seq("l", "r")))
        .groupBy("l", "r")
        .agg(sum("freq").as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(TOP_K).collect()
        .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        // count floor for pairs the K-row collect didn't see
        val floorCnt = if (top.length == TOP_K) top.last._3 else 0L
        val accepted = scala.collection.mutable.ArrayBuffer[(String, String)]()
        val usedSyms = scala.collection.mutable.Set.empty[String]
        var newPairBound = Long.MinValue
        var open = true
        var idx = 0
        while (open && idx < top.length && k <= nMerges) {
          val (l, r, cnt) = top(idx)
          if (usedSyms(l) || usedSyms(r) ||
              (accepted.nonEmpty && cnt <= newPairBound)) open = false
          else {
            merges += ((k.toLong, l, r, cnt))
            accepted += ((l, r))
            usedSyms ++= Seq(l, r, l + r)
            val adjMax = top.iterator
              .collect { case (al, ar, ac) if ar == l || al == r => ac }
              .foldLeft(floorCnt)(math.max)
            newPairBound = math.max(newPairBound, math.min(cnt, adjMax))
            k += 1
            idx += 1
          }
        }
        val batched = accepted.foldLeft(col("seg")) { case (c, (l, r)) =>
          call_function("replace", c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
        }
        seg = seg.withColumn("seg", batched)
        sinceCp += 1
        if (sinceCp >= CP_EVERY) {
          val next = seg.localCheckpoint()
          org.apache.spark.sql.GraftShims.releaseLocalCheckpoint(segCp)
          segCp = next
          seg = next
          sinceCp = 0
        }
      }
    }
    org.apache.spark.sql.GraftShims.releaseLocalCheckpoint(segCp)
    (merges.toSeq, rounds)
  }

  /** Per-word subword counts under a trained merge list: apply the
    * merges in rank order (one replace pass each — see [[segInit]]),
    * then count symbols from the delimiter arithmetic. All codegen'd
    * string ops over the vocab-sized table.
    */
  private def bpeWordSubwords(words: DataFrame,
      merges: Seq[(Long, String, String, Long)]): DataFrame = {
    var seg = words.select(col("w"), segInit(col("w")).as("seg"))
    merges.foreach { case (_, l, r, _) =>
      seg = seg.withColumn("seg", call_function("replace",
        col("seg"), lit(s"|$l||$r|"), lit(s"|$l$r|")))
    }
    seg.select(col("w"), expr(
      "(length(seg) - length(replace(seg, '|', ''))) DIV 2").as("n_sub"))
  }

  /** Parquet schema of the persisted BPE merge-table artifact
    * (`txt_bpe_persist`) — pinned as DDL so the serve path reads it
    * without a schema-inference footer job.
    */
  private[graft] val BPE_MERGES_DDL =
    "rank BIGINT, l STRING, r STRING, cnt BIGINT"

  /** Ensure the persisted merge-table artifact exists (one-time train
    * into a per-JVM [[Scratch]] artifact keyed by the documents source
    * fingerprint) and
    * return the LOADED merges in rank order — the only tokenizer input
    * of every serve-path consumer (txt_bpe_persist, txt_bpe_stats):
    * an explicit-schema read (no inference footer job) + one collect
    * of BPE_MERGES rows to build the replace chain.
    */
  private def loadBpeMerges(s: SparkSession,
      d: String): Seq[(Long, String, String, Long)] = {
    val base = Scratch.once("bpe_merges", Tables.sig(d, "documents"),
        Scratch.jvm) { p =>
      val words = bpeWords(s, d).localCheckpoint()
      val sp = s
      import sp.implicits._
      bpeTrain(words, BPE_MERGES).toDF("rank", "l", "r", "cnt")
        .coalesce(1).write.parquet(p)
      org.apache.spark.sql.GraftShims.releaseLocalCheckpoint(words)
    }
    s.read.schema(BPE_MERGES_DDL).parquet(base)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
  }

  /** Per-document (n_words, n_bpe) from a per-word subword table — the
    * corpus-scale application leg shared by txt_token_bpe (inline
    * train) and txt_bpe_persist (loaded artifact): encode runs on the
    * distinct-word table and joins back by word, so repeated words are
    * never re-segmented.
    */
  private def bpeDocCounts(s: SparkSession, d: String,
      wsub: DataFrame): DataFrame = {
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.TokenizeExplode
        .tokenize(s, lower(col("text"))).as("w"))
      .join(broadcast(wsub), Seq("w")) // vocab-sized build side
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_bpe"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** Okapi BM25 (Robertson & Zaragoza, FnTIR 2009; k1 = 1.2,
    * b = 0.75) of every document against the corpus's three highest-df
    * query terms, as top-20 (doc_id, score_e6, n_hit). Per-term
    * weights are 1e6-scaled to integers BEFORE the per-doc sum, so the
    * aggregate is exact order-free arithmetic; the idf ln is
    * [[graft.functions.DetMath]] (bit-identical across engines) and the
    * division chain keeps identical association, with every oracle
    * constant forced through '…'::DOUBLE (DuckDB's bare-decimal DECIMAL
    * path diverges from the double product by ~1 ulp). avgdl is an
    * exact-integer total / count, never avg() (whose double summation
    * is order-dependent). Shapes: two hash aggs over the token stream,
    * broadcast-only attaches for query terms + 1-row corpus stats.
    */
  def bm25From(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // corpus size folded INTO the DAG as a broadcast 1-row agg — the
    // txt_tfidf discipline. A plan-time docs.count() here would run a
    // separate scan job on every build of this frame (and twice per
    // txt_hybrid_retrieval run); the 1-row crossJoin costs nothing.
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select(col("doc_id"),
        graft.functions.TokenizeExplode.tokenize(s, col("text")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      .crossJoin(n) // 1 row x 1 row: both corpus scalars in one broadcast
    val qterms = dfT.orderBy(col("df").desc, col("term")).limit(3)
    tf.join(broadcast(qterms), Seq("term"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("w_e6", round(
        graft.functions.DetMath.lnColumn(
          lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))) *
        lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(sum("w_e6").as("score_e6"), count(lit(1)).as("n_hit"))
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(20)
      .select("doc_id", "score_e6", "n_hit")
  }

  /** Per-document 8-gram novelty: of a doc's DISTINCT token 8-grams,
    * how many first occur (min doc_id) in this doc — the "how much of
    * this doc is new text" curation signal. Grams are xxhash64'd to
    * fixed 8-byte keys before BOTH shuffles (2^-64 collision odds,
    * the engine's md5-dedup tolerance); the gram stream is scanned
    * twice rather than checkpointed — at corpus scale a re-scan beats
    * materializing it. Docs shorter than 8 tokens emit nothing.
    */
  def ngramNoveltyFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    def grams = docs
      .select(col("doc_id"),
        graft.functions.NgramExplode.ngrams(s, col("text"), 8).as("ngram"))
      .select(col("doc_id"), xxhash64(col("ngram")).as("h"))
      .distinct()
    val first = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
    grams.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000 DIV n_grams").as("novel_mille"))
      .orderBy("doc_id")
  }

  override def rows: Seq[Query] = Seq(
    // -- BPE tokenizer TRAINING (Sennrich et al.): the learned merge
    //    table itself, value-exact vs an oracle that unrolls the same
    //    rounds as CTEs (see bpeTrain for the shape) ------------------
    Query("txt_bpe_merges", (s, d) => {
      import s.implicits._
      bpeTrain(bpeWords(s, d), BPE_MERGES)
        .toDF("rank", "l", "r", "cnt")
        .orderBy("rank")
    },
      {
      val rows = (1 to BPE_MERGES).map(k =>
        s"SELECT ${k}::BIGINT AS rank, l, r, cnt FROM m$k")
        .mkString("\n      UNION ALL ")
      s"""
      ${bpeCtesSql(BPE_MERGES)}
      $rows
      ORDER BY rank"""
    }),

    // -- tokenizer-AWARE token counting: encode every doc with the
    //    corpus-trained BPE and report true subword budgets (vs
    //    txt_token_estimate's chars/4 heuristic). Encode runs on the
    //    distinct-word table and joins back by word — the corpus-scale
    //    application never re-segments repeated words ------------------
    Query("txt_token_bpe", (s, d) => {
      val words = bpeWords(s, d).localCheckpoint() // train + encode share it
      bpeDocCounts(s, d,
        bpeWordSubwords(words, bpeTrain(words, BPE_MERGES)))
    },
      tokenBpeSql),

    // -- PERSISTED tokenizer: train the merge table ONCE into a
    //    parquet artifact, apply it many times (r16 verdict #2) --------
    //    The sim_index_persist discipline on the repo's most expensive
    //    trained artifact: bpeTrain's per-round collect+checkpoint
    //    chain runs only inside the one-time artifact write (keyed by the
    //    SOURCE fingerprint — the driver regenerates testdata between
    //    rounds); every later invocation LOADS the nMerges-row merge
    //    table (one tiny explicit-schema parquet read — the only job
    //    the serve path is allowed) and pays just the codegen'd
    //    replace-chain application. This is the contract an LLM
    //    pipeline actually runs: tokenizer.json ships once, encode
    //    runs per training batch. BpePersistSpec pins bit-equality
    //    with the inline train and that serving runs no training jobs
    //    (no localCheckpoint round chain, exactly one artifact read).
    Query("txt_bpe_persist", (s, d) =>
      bpeDocCounts(s, d,
        bpeWordSubwords(bpeWords(s, d), loadBpeMerges(s, d))),
      // the loaded-artifact tokenizer is bit-equal to the inline train
      // (BpePersistSpec — the sim_index_persist discipline), so the SAME
      // oracle gates it
      tokenBpeSql),

    // -- tokenizer MERGE-UTILIZATION audit over the persisted merge
    //    table: per merge rank, the freq-weighted number of times the
    //    merge actually fires when encoding the corpus -----------------
    //    The "is every merge carrying its weight" health check run
    //    after shipping a tokenizer: training counts OVERLAPPING
    //    adjacent pairs (the Sennrich convention), application merges
    //    left-to-right non-overlapping — so n_applied <= cnt, and the
    //    gap is exactly the overlap collapse (e.g. 'aaa' counts two
    //    'a·a' pairs but merges once). Each stage is one codegen'd
    //    replace over the vocab-sized word table; the final agg is one
    //    row, unpivoted to |merges| rows and joined to the loaded
    //    table. Oracle: per-round delta of the unrolled s{k-1}/s{k}
    //    segmentation CTEs — identical left-to-right replace semantics
    //    make it bit-exact.
    Query("txt_bpe_stats", (s, d) => {
      val merges = loadBpeMerges(s, d)
      var df = bpeWords(s, d)
        .select(col("freq"), segInit(col("w")).as("seg0"))
      merges.foreach { case (k, l, r, _) =>
        df = df.withColumn(s"seg$k", call_function("replace",
          col(s"seg${k - 1}"), lit(s"|$l||$r|"), lit(s"|$l$r|")))
      }
      def syms(c: String) =
        expr(s"(length($c) - length(replace($c, '|', ''))) DIV 2")
      val aggs = merges.map { case (k, _, _, _) =>
        sum(col("freq") * (syms(s"seg${k - 1}") - syms(s"seg$k")))
          .as(s"a$k") }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val stackExpr = "stack(" + merges.size + ", " +
        merges.map { case (k, _, _, _) => s"CAST($k AS BIGINT), a$k" }
          .mkString(", ") + ") AS (rank, n_applied)"
      val sp = s
      import sp.implicits._
      val mdf = merges.toDF("rank", "l", "r", "cnt")
      one.selectExpr(stackExpr)
        .join(broadcast(mdf), Seq("rank"))
        .select(col("rank"), col("l"), col("r"), col("cnt"),
          col("n_applied"))
        .orderBy("rank")
    },
      // per-round application count = freq-weighted symbol-count delta
      // between the unrolled s{k-1} and s{k} segmentation states (each
      // merge application removes exactly one symbol; the word key is
      // unique, so USING (w) pairs the states row-for-row)
      {
      val rows = (1 to BPE_MERGES).map(k =>
        s"""SELECT ${k}::BIGINT AS rank, m.l, m.r, m.cnt, u.n_applied
      FROM m$k m, (SELECT sum(a.freq * (
                 (length(a.seg) - length(replace(a.seg, '|', ''))) // 2
               - (length(b.seg) - length(replace(b.seg, '|', ''))) // 2
             ))::BIGINT AS n_applied
           FROM s${k - 1} a JOIN s$k b USING (w)) u""")
        .mkString("\n      UNION ALL ")
      s"""
      ${bpeCtesSql(BPE_MERGES)}
      $rows
      ORDER BY rank"""
    }),

    // -- context-window chunking (width 64 tokens, stride 48) -------------
    //    The packing step an LLM pipeline runs over every document,
    //    as a fused Generator (ChunkExplode): token boundaries found
    //    in one byte scan, one buffer copy per window. Chunks compare
    //    as md5 so rows stay small.
    Query("txt_chunk", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.ChunkExplode.chunks(s, col("text"), 64, 48)
            .as(Seq("chunk_idx", "chunk", "n_tokens")))
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk").cast("binary")).as("chunk_md5"), col("n_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      s"""
      WITH t AS (SELECT doc_id, ${Text.sqlTokens("text")} AS ts FROM documents),
           idx AS (SELECT doc_id, ts, len(ts) AS n,
                          CASE WHEN len(ts) <= 64 THEN 1
                               ELSE (len(ts) - 64 + 47) // 48 + 1 END AS nch
                   FROM t WHERE len(ts) > 0),
           ch AS (SELECT doc_id, g.k AS chunk_idx,
                         array_to_string(
                           ts[g.k * 48 + 1 : least(g.k * 48 + 64, n)], ' ')
                           AS chunk,
                         least(g.k * 48 + 64, n) - g.k * 48 AS n_tokens
                  FROM idx
                  CROSS JOIN (SELECT unnest(range(0, (SELECT CAST(max(nch) AS BIGINT) FROM idx))) AS k) g
                  WHERE g.k < nch)
      SELECT doc_id, chunk_idx, md5(chunk) AS chunk_md5, n_tokens
      FROM ch
      ORDER BY doc_id, chunk_idx"""),

    // -- token-budget packing: assign docs to ~1000-token batches ---------
    //    Greedy prefix-sum packing: pack = floor(preceding-total /
    //    budget), with the running total computed as a distributed
    //    two-pass prefix sum (shardedCum) — no single-partition window
    //    anywhere in the plan.
    Query("txt_pack", (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("n_tok"))
      shardedCum(base, expr("doc_id DIV 64"), Seq("doc_id"), "n_tok")
        .select(col("doc_id"), col("n_tok"),
          expr("(cum - n_tok) DIV 1000").as("pack_id"))
        .orderBy("doc_id")
    },
      s"""
      SELECT doc_id, n_tok, CAST(cum - n_tok AS BIGINT) // 1000 AS pack_id
      FROM (SELECT doc_id, len(${Text.sqlTokens("text")}) AS n_tok,
                   sum(len(${Text.sqlTokens("text")})) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM documents)
      ORDER BY doc_id"""),

    // -- per-document token statistics ------------------------------------
    Query("txt_token_stats", (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long").as("n_alnum_chars"),
          // token-free doc: the average is undefined, not a crash — the
          // unguarded ANSI divide aborted the whole query on a corpus
          // with one empty text (oracle mirrors the NULL)
          when(size(toks) > 0,
            length(regexp_replace(col("text"), "[^A-Za-z0-9]", ""))
              .cast("double") / size(toks)).as("avg_token_len"))
        .orderBy("doc_id"),
      s"""
      SELECT doc_id,
             len(${Text.sqlTokens("text")}) AS n_tokens,
             len(list_distinct(${Text.sqlTokens("text")})) AS n_distinct,
             length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum_chars,
             CASE WHEN len(${Text.sqlTokens("text")}) = 0 THEN NULL
                  ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
                         / len(${Text.sqlTokens("text")}) END AS avg_token_len
      FROM documents
      ORDER BY doc_id"""),

    // -- quality scoring: stopword ratio, distinct ratio, length ----------
    Query("txt_quality", (s, d) => {
      val nTok = size(toks).cast("long")
      val nStop = stopCount(toks)
      val nDist = size(array_distinct(toks)).cast("long")
      def guarded(c: Column) = when(nTok > 0, c) // NULL on token-free docs
      Tables.documents(s, d)
        .select(
          col("doc_id"), nTok.as("n_tokens"),
          guarded(nStop.cast("double") / nTok).as("stop_ratio"),
          guarded(nDist.cast("double") / nTok).as("distinct_ratio"),
          // Composite quality: stopword presence + vocabulary diversity,
          // penalized for very short docs. Single exact expression.
          guarded((nStop.cast("double") / nTok) * 0.5
            + (nDist.cast("double") / nTok) * 0.3
            + when(nTok >= 50, 0.2).otherwise(0.0)).as("quality"))
        .orderBy("doc_id")
    },
      s"""
      WITH t AS (
        SELECT doc_id,
               len(${Text.sqlTokens("text")}) AS n_tokens,
               len(list_filter(${Text.sqlTokens("text")}, t -> t IN ($stopwordsSql))) AS n_stop,
               len(list_distinct(${Text.sqlTokens("text")})) AS n_dist
        FROM documents)
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens = 0 THEN NULL
                  ELSE n_stop::DOUBLE / n_tokens END AS stop_ratio,
             CASE WHEN n_tokens = 0 THEN NULL
                  ELSE n_dist::DOUBLE / n_tokens END AS distinct_ratio,
             CASE WHEN n_tokens = 0 THEN NULL
                  ELSE (n_stop::DOUBLE / n_tokens) * 0.5
                         + (n_dist::DOUBLE / n_tokens) * 0.3
                         + (CASE WHEN n_tokens >= 50 THEN 0.2 ELSE 0.0 END)
                  END AS quality
      FROM t
      ORDER BY doc_id"""),

    // -- language-ID heuristic: argmax of per-language stopword hits.
    // Scalable shape: ONE tokenize pass (fused generator) + conditional
    // sums in a single codegen'd hash agg, left-joined back so empty
    // docs keep their 'und' verdict. (The HOF formulation re-evaluated
    // the interpreted token filter ~15x per row.)
    Query("txt_lang_id", (s, d) => {
      val docs = Tables.documents(s, d)
      val hitAggs = langProfiles.map { case (lg, ws) =>
        sum(when(col("w").isin(ws: _*), 1L).otherwise(0L)).as(s"n_$lg")
      }
      val hits = docs
        .select(col("doc_id"),
          graft.functions.TokenizeExplode.tokenize(s, lower(col("text"))).as("w"))
        .groupBy("doc_id")
        .agg(hitAggs.head, hitAggs.tail: _*)
      val Seq(en, es, de, fr) =
        langProfiles.map { case (lg, _) => coalesce(col(s"n_$lg"), lit(0L)) }
      val pred =
        when(col("n_en").isNull, "und") // no tokens at all
          .when(greatest(en, es, de, fr) === 0, "unk")
          .when(en >= greatest(es, de, fr), "en")
          .when(es >= greatest(de, fr), "es")
          .when(de >= fr, "de")
          .otherwise("fr")
      docs.select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
          en.as("n_en"), es.as("n_es"), de.as("n_de"), fr.as("n_fr"))
        .orderBy("doc_id")
    },
      {
      val hitCols = langProfiles.map { case (lg, ws) =>
        val set = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(${Text.sqlTokens("lower(text)")}, t -> t IN ($set))) AS n_$lg"
      }.mkString(",\n               ")
      s"""
      WITH t AS (
        SELECT doc_id, lang, len(${Text.sqlTokens("lower(text)")}) AS n_tokens,
               $hitCols
        FROM documents)
      SELECT doc_id, lang,
             CASE WHEN n_tokens = 0 THEN 'und'
                  WHEN greatest(n_en, n_es, n_de, n_fr) = 0 THEN 'unk'
                  WHEN n_en >= greatest(n_es, n_de, n_fr) THEN 'en'
                  WHEN n_es >= greatest(n_de, n_fr) THEN 'es'
                  WHEN n_de >= n_fr THEN 'de'
                  ELSE 'fr' END AS pred_lang,
             n_en, n_es, n_de, n_fr
      FROM t
      ORDER BY doc_id"""
    }),

    // -- BPE-ish token-count estimation (chars/4 + word heuristic) --------
    Query("txt_token_estimate", (s, d) => {
      val nWords = size(toks).cast("long")
      val nChars = length(col("text")).cast("long")
      Tables.documents(s, d)
        .select(
          col("doc_id"), nWords.as("n_words"), nChars.as("n_chars"),
          ceil(nChars.cast("double") / 4).cast("long").as("est_bpe_chars4"),
          // words + one extra piece per 8 chars of long words: crude
          // subword estimate, same arithmetic both engines
          (nWords + floor(nChars.cast("double") / 8).cast("long")).as("est_bpe_blend"))
        .orderBy("doc_id")
    },
      s"""
      SELECT doc_id,
             len(${Text.sqlTokens("text")}) AS n_words,
             length(text) AS n_chars,
             ceil(length(text)::DOUBLE / 4)::BIGINT AS est_bpe_chars4,
             len(${Text.sqlTokens("text")}) + floor(length(text)::DOUBLE / 8)::BIGINT AS est_bpe_blend
      FROM documents
      ORDER BY doc_id"""),

    // -- rolling polynomial hash fingerprint (exact fold, mod 1e9+7) ------
    Query("txt_rolling_hash", (s, d) => {
      val canon = array_join(Text.tokensLower(col("text")), " ")
      val codes = transform(split(canon, ""), c => ascii(c).cast("long"))
      val rolled = aggregate(codes, lit(0L),
        (acc, x) => pmod(acc * 31 + x, lit(1000000007L)))
      Tables.documents(s, d)
        .select(col("doc_id"), rolled.as("rhash"))
        .orderBy("doc_id")
    },
      s"""
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(array_to_string(${Text.sqlTokens("lower(text)")}, ' '), ''),
                                c -> ord(c)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS rhash
      FROM documents
      ORDER BY doc_id"""),

    // -- document fingerprint: md5 of canonical token stream --------------
    Query("txt_fingerprint", (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
            .cast("binary")).as("fingerprint"))
        .orderBy("doc_id"),
      s"""
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
      FROM documents
      ORDER BY doc_id"""),

    // -- n-gram mining: top bigrams corpus-wide (fused generator) ---------
    Query("txt_bigrams", (s, d) =>
      Tables.documents(s, d)
        .select(graft.functions.NgramExplode.ngrams(s, col("text"), 2).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(30),
      s"""
      WITH t AS (SELECT ${Text.sqlTokens("text")} AS toks FROM documents),
           b AS (SELECT unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                 FROM t WHERE len(toks) >= 2)
      SELECT bigram, count(1) AS cnt
      FROM b
      GROUP BY bigram
      ORDER BY cnt DESC, bigram
      LIMIT 30"""),

    // -- collocation mining: top adjacent pairs by PMI (see pmiFrom) ----
    Query("txt_pmi", (s, d) => pmiFrom(Tables.documents(s, d)),
      s"""
      WITH t AS (SELECT ${Text.sqlTokens("text")} AS toks FROM documents),
           b AS (SELECT unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bg
                 FROM t WHERE len(toks) >= 2),
           c12 AS (SELECT bg, count(1)::BIGINT AS c12 FROM b GROUP BY bg),
           uni AS (SELECT w, count(1)::BIGINT AS c1
                   FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
           n AS (SELECT sum(c1)::BIGINT AS nw FROM uni),
           p0 AS (SELECT c.bg, c.c12,
                         (c.c12 * n.nw)::DOUBLE AS xa,
                         (ua.c1 * ub.c1)::DOUBLE AS xb
                  FROM c12 c
                  CROSS JOIN n
                  JOIN uni ua ON split_part(c.bg, ' ', 1) = ua.w
                  JOIN uni ub ON split_part(c.bg, ' ', 2) = ub.w
                  WHERE c.c12 >= $PMI_MIN_SUPPORT),
           p1 AS (SELECT *, ${graft.functions.DetMath.eSql("xa")} AS ea,
                         ${graft.functions.DetMath.eSql("xb")} AS eb
                  FROM p0),
           p2 AS (SELECT *, ${graft.functions.DetMath.ySql("xa", "ea")} AS ya,
                         ${graft.functions.DetMath.ySql("xb", "eb")} AS yb
                  FROM p1),
           p3 AS (SELECT *, ${graft.functions.DetMath.zSql("ya")} AS za,
                         ${graft.functions.DetMath.zSql("yb")} AS zb
                  FROM p2),
           p4 AS (SELECT *, (za * za) AS za2, (zb * zb) AS zb2 FROM p3)
      SELECT bg AS bigram, c12 AS cnt,
             floor((${graft.functions.DetMath.lnSqlFromParts("ea", "za", "za2")}
               - ${graft.functions.DetMath.lnSqlFromParts("eb", "zb", "zb2")})
               * 1e6)::BIGINT AS pmi_micronat
      FROM p4
      ORDER BY pmi_micronat DESC, bigram
      LIMIT 50"""),

    // -- RAKE keyphrase extraction (see rakeFrom) ------------------------
    Query("txt_rake", (s, d) => rakeFrom(Tables.documents(s, d)),
      // PMI mirrored margin-for-margin: the same bigram/unigram counts,
      // the same integer products cast to exact doubles, the DetMath ln
      // staging for BOTH arguments, floor (sign-uniform — PMI goes
      // negative) to micronats
      // islands differ by a constant per doc (1-based vs 0-based
      // positions) — grouping keys, not values, so the phrases agree
      s"""
      WITH d AS (SELECT doc_id, ${Text.sqlTokens("lower(text)")} AS ts FROM documents),
           pos AS (SELECT doc_id, ts,
                          unnest(range(1, len(ts) + 1)) AS i FROM d),
           tok AS (SELECT doc_id, i, ts[i] AS w FROM pos),
           ns AS (SELECT doc_id, i, w,
                         i - row_number() OVER (PARTITION BY doc_id
                           ORDER BY i) AS island
                  FROM tok WHERE w NOT IN ($stopwordsSql)),
           phr AS (SELECT doc_id, island,
                          string_agg(w, ' ' ORDER BY i) AS phrase,
                          count(1)::BIGINT AS len
                   FROM ns GROUP BY doc_id, island
                   HAVING count(1) <= $RAKE_MAX_PHRASE),
           pw AS (SELECT len, unnest(string_split(phrase, ' ')) AS w
                  FROM phr),
           ws AS (SELECT w, ((1000 * sum(len)) // count(1))::BIGINT
                    AS wscore_mille
                  FROM pw GROUP BY w),
           pt AS (SELECT phrase, count(1) AS n_occ FROM phr
                  GROUP BY phrase),
           ptw AS (SELECT phrase, n_occ,
                          unnest(string_split(phrase, ' ')) AS w FROM pt)
      SELECT ptw.phrase, any_value(ptw.n_occ) AS n_occ,
             sum(ws.wscore_mille)::BIGINT AS score_mille
      FROM ptw JOIN ws ON ptw.w = ws.w
      GROUP BY ptw.phrase
      ORDER BY score_mille DESC, phrase
      LIMIT 25"""),

    // -- exact heavy hitters via the two-phase sketch pattern ------------
    //    Phase 1: one scan through the Misra-Gries aggregate (constant
    //    O(k) state) yields <= 100 candidate tokens — guaranteed to
    //    contain every token with frequency > n/101. Phase 2: exact
    //    recount of JUST the candidates, filtered by the real 2%
    //    (n/50) threshold. The result is exact and deterministic even
    //    though the sketch's counters depend on merge order — only its
    //    guaranteed-superset property is consumed. At 100 TB this
    //    replaces a full-vocabulary groupBy with O(k) state + a
    //    100-item filtered recount.
    Query("txt_heavy_hitters", (s, d) => {
      val tokens = Tables.documents(s, d)
        .select(graft.functions.TokenizeExplode
          .tokenize(s, lower(col("text"))).as("w"))
      // phase 1 is ONE global aggregate yielding both the MG candidate
      // superset AND the exact token total, so the 2% threshold enters
      // phase 2 as a driver literal — no window (the previous
      // formulation's sum().over() was the engine's sole unpartitioned
      // window; harmless at <= 101 grouped rows, but the invariant
      // "no single-partition window anywhere" is worth keeping literal)
      val first = tokens.agg(
        graft.functions.MisraGries.summary(s, col("w"), 100).as("mg"),
        count(lit(1)).as("n_total")).collect()(0)
      val nTotal = first.getLong(1)
      val cands = first.getMap[String, Long](0).keys.toSeq
      tokens
        .groupBy(when(col("w").isin(cands: _*), col("w")).as("word"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("word").isNotNull && col("cnt") * 50 > lit(nTotal))
        .select(col("word"), col("cnt"))
        .orderBy("word")
    },
      s"""
      WITH w AS (SELECT unnest(${Text.sqlTokens("lower(text)")}) AS word FROM documents),
           c AS (SELECT word, count(1) AS cnt FROM w GROUP BY word),
           t AS (SELECT sum(cnt) AS n FROM c)
      SELECT word, cnt
      FROM c, t
      WHERE cnt * 50 > n
      ORDER BY word"""),

    // -- cross-document duplicated 8-grams (exact-substring dedup signal,
    //    cf. Lee et al., "Deduplicating Training Data Makes Language
    //    Models Better"): which long n-grams appear in >= 2 documents,
    //    with occurrence counts — the report that locates boilerplate /
    //    shared passages. One generator pass + one hash agg; at 100 TB
    //    the ngram key would be hashed (md5) before the shuffle.
    Query("txt_dup_ngrams", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.NgramExplode.ngrams(s, col("text"), 8).as("ngram"))
        .groupBy("ngram")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_occ").desc, col("ngram"))
        .limit(50),
      s"""
      WITH t AS (SELECT doc_id, ${Text.sqlTokens("text")} AS toks FROM documents),
           g AS (SELECT doc_id,
                        unnest(list_transform(range(1, len(toks) - 6),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               || ' ' || toks[i+3] || ' ' || toks[i+4] || ' '
                               || toks[i+5] || ' ' || toks[i+6] || ' '
                               || toks[i+7])) AS ngram
                 FROM t WHERE len(toks) >= 8)
      SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(1) AS n_occ
      FROM g
      GROUP BY ngram
      HAVING count(DISTINCT doc_id) >= 2
      ORDER BY n_occ DESC, ngram
      LIMIT 50"""),

    // -- within-document repetition (Gopher/MassiveText-style quality
    //    signal): duplicated-trigram fraction per doc. Generator pass ->
    //    count + count-distinct per doc; docs shorter than one trigram
    //    join back with zero counts ---------------------------------------
    Query("txt_repetition", (s, d) => {
      val docs = Tables.documents(s, d)
      val tri = docs
        .select(col("doc_id"),
          graft.functions.NgramExplode.ngrams(s, lower(col("text")), 3).as("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nt"), countDistinct(col("g")).as("nd"))
      docs.select(col("doc_id")).join(tri, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nt"), lit(0L)).as("n_trigrams"),
          coalesce(col("nd"), lit(0L)).as("n_distinct"),
          when(coalesce(col("nt"), lit(0L)) === 0, lit(0.0))
            .otherwise(lit(1.0) - col("nd").cast("double") / col("nt"))
            .as("dup_ratio"))
        .orderBy("doc_id")
    },
      s"""
      WITH t AS (SELECT doc_id, ${Text.sqlTokens("lower(text)")} AS toks FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
            FROM t WHERE len(toks) >= 3),
      agg AS (SELECT doc_id, count(1) AS nt, count(DISTINCT g) AS nd
              FROM g GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(a.nt, 0) AS n_trigrams,
             coalesce(a.nd, 0) AS n_distinct,
             CASE WHEN coalesce(a.nt, 0) = 0 THEN 0.0
                  ELSE 1.0 - a.nd::DOUBLE / a.nt END AS dup_ratio
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // -- PII-style normalization pass: count + redact emails, URLs and
    //    digit runs (one regexp_count/replace chain, codegen'd; patterns
    //    chosen to mean the same thing in Java regex and RE2) -------------
    Query("txt_redact", (s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "https?://[^ \\t\\n]+"
      val num = "[0-9]+"
      val redacted = regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), email, "<EMAIL>"),
          url, "<URL>"),
        num, "<NUM>")
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(url)).cast("long").as("n_urls"),
          regexp_count(col("text"), lit(num)).cast("long").as("n_nums"),
          md5(redacted.cast("binary")).as("redacted_hash"))
        .orderBy("doc_id")
    },
      """
      SELECT doc_id,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS n_urls,
             len(regexp_extract_all(text, '[0-9]+')) AS n_nums,
             md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ \t\n]+', '<URL>', 'g'),
               '[0-9]+', '<NUM>', 'g')) AS redacted_hash
      FROM documents
      ORDER BY doc_id"""),

    // -- incremental corpus upsert: latest-wins merge of a base snapshot
    //    and a delta batch by key — the ingestion primitive behind every
    //    continuously-refreshed corpus (web recrawls, doc re-parses).
    //    One shuffle by doc_id (the window); no driver involvement; at
    //    scale the same shape rides a bucketed layout so repeated
    //    upserts pay no re-shuffle. Delta rows carry version 1 and a
    //    rewritten text; survivors = delta where keys overlap, base
    //    elsewhere (md5 keeps the compare rows small) -----------------------
    Query("pipe_upsert", (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), lit(0L).as("version"))
      val delta = Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" [revised]")).as("text"),
          lit(1L).as("version"))
      val w = Window.partitionBy("doc_id").orderBy(col("version").desc)
      base.union(delta)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("version"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    },
      """
      WITH u AS (
        SELECT doc_id, text, 0 AS version FROM documents
        UNION ALL
        SELECT doc_id, text || ' [revised]' AS text, 1 AS version
        FROM documents WHERE doc_id % 5 = 0),
      r AS (
        SELECT doc_id, version, text,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY version DESC) AS rn
        FROM u)
      SELECT doc_id, CAST(version AS BIGINT) AS version, md5(text) AS text_md5
      FROM r WHERE rn = 1
      ORDER BY doc_id"""),

    // -- CDC merge apply (MERGE INTO semantics, one step past the
    //    latest-wins upsert): a change feed with explicit ops — D
    //    deletes a matched row, U updates only when matched, I inserts
    //    only when NOT matched (unmatched U / matched I are no-ops,
    //    exactly the WHEN (NOT) MATCHED rules) — applied to a base
    //    snapshot in ONE full-outer join by key. No driver state, one
    //    shuffle; at scale the same shape rides a bucketed layout so
    //    periodic CDC batches pay no base re-shuffle ----------------------
    Query("pipe_cdc_apply", (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("b_id"), col("text").as("b_text"))
      val changes = docs.filter((col("doc_id") % 10).isin(0, 1, 2))
        .select(col("doc_id").as("c_id"),
          when(col("doc_id") % 10 === 0, "D")
            .when(col("doc_id") % 10 === 2, "U")
            .otherwise("I").as("op"),
          concat(col("text"), lit(" [cdc]")).as("c_text"))
      val j = base.join(changes, col("b_id") === col("c_id"), "full_outer")
      val op = coalesce(col("op"), lit("N"))
      val bP = col("b_id").isNotNull
      val src = when(op === "U" && bP, "U")
        .when(op === "I" && !bP, "I")
        .when(bP && op =!= "D" && op =!= "U", "B")
      j.select(coalesce(col("b_id"), col("c_id")).as("doc_id"),
          src.as("src"),
          when(src.isin("U", "I"), col("c_text"))
            .otherwise(col("b_text")).as("text"))
        .filter(col("src").isNotNull)
        .select(col("doc_id"), col("src"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    },
      // MERGE rules mirrored clause-for-clause: unmatched U and matched I
      // fall through to no-op/base exactly as in the engine
      """
      WITH base AS (
        SELECT doc_id AS b_id, text AS b_text
        FROM documents WHERE doc_id % 2 = 0),
      changes AS (
        SELECT doc_id AS c_id,
               CASE WHEN doc_id % 10 = 0 THEN 'D'
                    WHEN doc_id % 10 = 2 THEN 'U'
                    ELSE 'I' END AS op,
               text || ' [cdc]' AS c_text
        FROM documents WHERE doc_id % 10 IN (0, 1, 2)),
      j AS (SELECT * FROM base FULL OUTER JOIN changes ON b_id = c_id),
      r AS (SELECT coalesce(b_id, c_id) AS doc_id,
                   CASE WHEN coalesce(op, 'N') = 'U' AND b_id IS NOT NULL
                          THEN 'U'
                        WHEN coalesce(op, 'N') = 'I' AND b_id IS NULL
                          THEN 'I'
                        WHEN b_id IS NOT NULL
                             AND coalesce(op, 'N') NOT IN ('D', 'U')
                          THEN 'B'
                   END AS src,
                   b_text, c_text
            FROM j)
      SELECT doc_id, src,
             md5(CASE WHEN src IN ('U', 'I') THEN c_text
                      ELSE b_text END) AS text_md5
      FROM r
      WHERE src IS NOT NULL
      ORDER BY doc_id"""),

    // -- end-to-end corpus curation (the composed pipeline a training-data
    //    user actually runs): quality-filter -> fingerprint-dedup (keep
    //    lowest doc_id) -> per-language corpus stats. One tokenize pass,
    //    one dedup shuffle, one agg -----------------------------------------
    Query("pipe_curation", (s, d) => {
      val nTok = size(toks).cast("long")
      val nStop = stopCount(toks)
      val nDist = size(array_distinct(toks)).cast("long")
      val quality = (nStop.cast("double") / nTok) * 0.5 +
        (nDist.cast("double") / nTok) * 0.3 +
        when(nTok >= 50, 0.2).otherwise(0.0)
      // token-free docs carry no quality signal and divide by zero in
      // the score: drop them BEFORE the projection (the oracle's
      // scored CTE has the same WHERE n_tokens > 0)
      val scored = Tables.documents(s, d)
        .filter(size(toks) > 0)
        .select(col("doc_id"), col("lang"), col("text"),
          nTok.as("n_tokens"), quality.as("q"))
        .filter(col("q") >= 0.30)
      val w = Window
        .partitionBy(graft.operators.DedupOps.fingerprint(col("text")))
        .orderBy("doc_id")
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    },
      s"""
      WITH t AS (
        SELECT doc_id, lang, text,
               len(${Text.sqlTokens("text")}) AS n_tokens,
               len(list_filter(${Text.sqlTokens("text")}, t -> t IN ($stopwordsSql))) AS n_stop,
               len(list_distinct(${Text.sqlTokens("text")})) AS n_dist
        FROM documents),
      scored AS (
        SELECT doc_id, lang, text, n_tokens,
               (n_stop::DOUBLE / n_tokens) * 0.5
                 + (n_dist::DOUBLE / n_tokens) * 0.3
                 + (CASE WHEN n_tokens >= 50 THEN 0.2 ELSE 0.0 END) AS q
        FROM t WHERE n_tokens > 0),
      kept AS (
        SELECT lang, n_tokens,
               row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM scored WHERE q >= 0.30)
      SELECT lang, count(1) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
      FROM kept WHERE rn = 1
      GROUP BY lang
      ORDER BY lang"""),

    // -- the full training-data path in ONE query: quality-filter ->
    //    fingerprint-dedup -> context-window chunking -> token-budget
    //    packing -> per-pack manifest. What a pipeline materializes
    //    before a training run; every stage is an operator proven
    //    above, composed. Shapes: one tokenize pass, one dedup
    //    shuffle, one generator pass, one (per-shard at scale) packing
    //    window, one agg. ---------------------------------------------------
    Query("pipe_training_batches", (s, d) => {
      val nTok = size(toks).cast("long")
      val nStop = stopCount(toks)
      val nDist = size(array_distinct(toks)).cast("long")
      val quality = (nStop.cast("double") / nTok) * 0.5 +
        (nDist.cast("double") / nTok) * 0.3 +
        when(nTok >= 50, 0.2).otherwise(0.0)
      val scored = Tables.documents(s, d)
        .filter(size(toks) > 0) // oracle's scored CTE: WHERE n_tokens > 0
        .select(col("doc_id"), col("text"), quality.as("q"))
        .filter(col("q") >= 0.30)
      val dedupW = Window
        .partitionBy(graft.operators.DedupOps.fingerprint(col("text")))
        .orderBy("doc_id")
      val kept = scored.withColumn("rn", row_number().over(dedupW))
        .filter(col("rn") === 1)
      val chunks = kept.select(col("doc_id"),
        graft.functions.ChunkExplode.chunks(s, col("text"), 64, 48)
          .as(Seq("chunk_idx", "chunk", "n_tokens")))
      // distributed prefix sum in (doc_id, chunk_idx) order: sharding
      // on doc_id alone partitions the doc-major order correctly
      shardedCum(chunks, expr("doc_id DIV 64"),
          Seq("doc_id", "chunk_idx"), "n_tokens")
        .select(col("n_tokens"),
          expr("(cum - n_tokens) DIV 1000").as("pack_id"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("pack_tokens"))
        .orderBy("pack_id")
    },
      s"""
      WITH t AS (
        SELECT doc_id, text,
               len(${Text.sqlTokens("text")}) AS n_tokens,
               len(list_filter(${Text.sqlTokens("text")}, t -> t IN ($stopwordsSql))) AS n_stop,
               len(list_distinct(${Text.sqlTokens("text")})) AS n_dist
        FROM documents),
      scored AS (
        SELECT doc_id, text,
               (n_stop::DOUBLE / n_tokens) * 0.5
                 + (n_dist::DOUBLE / n_tokens) * 0.3
                 + (CASE WHEN n_tokens >= 50 THEN 0.2 ELSE 0.0 END) AS q
        FROM t WHERE n_tokens > 0),
      kept AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')))
                   ORDER BY doc_id) AS rn
          FROM scored WHERE q >= 0.30)
        WHERE rn = 1),
      ktoks AS (SELECT doc_id, ${Text.sqlTokens("text")} AS ts FROM kept),
      idx AS (SELECT doc_id, len(ts) AS n,
                     CASE WHEN len(ts) <= 64 THEN 1
                          ELSE (len(ts) - 64 + 47) // 48 + 1 END AS nch
              FROM ktoks WHERE len(ts) > 0),
      ch AS (SELECT doc_id, g.k AS chunk_idx,
                    least(g.k * 48 + 64, n) - g.k * 48 AS n_tokens
             FROM idx
             CROSS JOIN (SELECT unnest(range(0, (SELECT CAST(max(nch) AS BIGINT) FROM idx))) AS k) g
             WHERE g.k < nch),
      packed AS (
        SELECT n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
                      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                 // 1000 AS pack_id
        FROM ch)
      SELECT pack_id, count(1) AS n_chunks,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      FROM packed
      GROUP BY pack_id
      ORDER BY pack_id"""),

    // -- TF-IDF: top terms per document (integer-scaled scores) -----------
    Query("txt_tfidf", (s, d) => {
      val docs = Tables.documents(s, d)
      // corpus size folded into the DAG as a broadcast 1-row agg (no
      // plan-time count job); idf ln via DetMath so both engines
      // compute bit-identical scores (same discipline as txt_bm25)
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val tf = docs
        .select(col("doc_id"),
          graft.functions.TokenizeExplode.tokenize(s, col("text")).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(df_, "term")
        .crossJoin(broadcast(n))
        .withColumn("iscore",
          round(col("tf") * graft.functions.DetMath.lnColumn(
            col("n_docs") / col("df")) * 1e6).cast("long"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("iscore").desc, col("term"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("iscore"))
        .orderBy("doc_id", "rk")
    },
      s"""
      WITH tf AS (
        SELECT doc_id, term, count(1) AS tf
        FROM (SELECT doc_id, unnest(${Text.sqlTokens("text")}) AS term FROM documents)
        GROUP BY doc_id, term),
      df AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
      n AS (SELECT count(1)::DOUBLE AS n_docs FROM documents),
      s0 AS (SELECT tf.doc_id, tf.term, tf.tf, (n.n_docs / df.df) AS x
             FROM tf JOIN df USING (term) CROSS JOIN n),
      s1 AS (SELECT *, ${graft.functions.DetMath.eSql("x")} AS e FROM s0),
      s2 AS (SELECT *, ${graft.functions.DetMath.ySql("x", "e")} AS y FROM s1),
      s3 AS (SELECT *, ${graft.functions.DetMath.zSql("y")} AS z FROM s2),
      s4 AS (SELECT *, (z * z) AS z2 FROM s3),
      scored AS (
        SELECT doc_id, term,
               round(tf * ${graft.functions.DetMath.lnSqlFromParts("e", "z", "z2")}
                     * 1e6)::BIGINT AS iscore
        FROM s4),
      ranked AS (
        SELECT doc_id, term, iscore,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY iscore DESC, term) AS rk
        FROM scored)
      SELECT doc_id, rk, term, iscore
      FROM ranked
      WHERE rk <= 3
      ORDER BY doc_id, rk"""),

    // -- BM25 retrieval scoring (Robertson & Zaragoza, "The
    //    Probabilistic Relevance Framework: BM25 and Beyond", FnTIR
    //    2009): score every document against the corpus's three
    //    highest-df query terms with k1 = 1.2, b = 0.75. Per-term
    //    weights are 1e6-scaled to integers BEFORE the per-doc sum, so
    //    the final score is exact integer arithmetic with no FP
    //    summation-order hazard; the ln/division chain is written with
    //    identical association in both engines (same argument as the
    //    TF-IDF scores above). Scale shape: two hash aggs over the
    //    token stream, then broadcast-only attaches (query terms,
    //    1-row corpus stats) — the corpus never re-shuffles on
    //    anything wider than (doc_id, term) ---------------------------------
    Query("txt_bm25", (s, d) => bm25From(Tables.documents(s, d)),
      // BM25 with the idf ln computed via DetMath (bit-identical across
      // engines) and identical association of the division chain;
      // constants forced through '…'::DOUBLE so DuckDB's DECIMAL literal
      // path (exact-rational, ≠ double product in ~half of tf values)
      // never enters; per-term weights integer-scaled BEFORE the per-doc
      // sum so the aggregate is order-free exact arithmetic.
      s"""
      WITH $bm25CtesSql
      SELECT doc_id, sum(w_e6)::BIGINT AS score_e6, count(1) AS n_hit
      FROM w
      GROUP BY doc_id
      ORDER BY score_e6 DESC, doc_id
      LIMIT 20"""),

    // -- hybrid sparse+dense retrieval: reciprocal-rank fusion (Cormack,
    //    Clarke & Buettcher, SIGIR 2009) of the BM25 top-20 and the IVF
    //    dense top-20 for query vector 0 (vec_id doubles as doc_id on
    //    this corpus) — the retrieval shape RAG / decontamination
    //    pipelines actually run. RRF score per arm = 1e6 DIV (60+rank),
    //    integer-exact and distinct per rank; a doc missing from one
    //    arm contributes 0 (rank sentinel 0). Both arms are the proven
    //    operators composed unchanged; the fusion itself is a full
    //    outer join of two 20-row lists — broadcast-trivial at any
    //    corpus scale (the arms do the heavy lifting) ------------------
    Query("txt_hybrid_retrieval", (s, d) => {
      val ws = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_e6").desc, col("doc_id"))
      val sparse = bm25From(Tables.documents(s, d)) // top-20: bounded window
        .select(col("doc_id"), row_number().over(ws).as("rank_s"))
      val dense = Similarity.ivfTopkFrom(s, Tables.embeddings(s, d),
          queryPred = col("vec_id") === 0, topK = 20)
        .select(col("vec_id").as("doc_id"), col("rk").as("rank_d"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_s"), lit(0)).cast("long").as("rank_sparse"),
          coalesce(col("rank_d"), lit(0)).cast("long").as("rank_dense"),
          (expr("CASE WHEN rank_s IS NULL THEN 0L " +
            "ELSE 1000000L DIV (60L + rank_s) END") +
           expr("CASE WHEN rank_d IS NULL THEN 0L " +
             "ELSE 1000000L DIV (60L + rank_d) END")).cast("long")
            .as("rrf_e6"))
        .orderBy(col("rrf_e6").desc, col("doc_id"))
        .limit(15)
    },
      // RRF fusion (Cormack, Clarke & Buettcher, SIGIR 2009): the BM25
      // top-20 and the IVF dense top-20 for query vector 0, fused as
      // 1e6 DIV (60 + rank) per arm — integer-exact, distinct per rank.
      // Missing from one arm contributes 0 (rank sentinel 0). Composes
      // the two proven CTE chains verbatim (bm25CtesSql + Similarity's
      // prefixed ivfCtesSql).
      s"""
      WITH $bm25CtesSql,
      bmtop AS (SELECT doc_id, sum(w_e6)::BIGINT AS score_e6
                FROM w GROUP BY doc_id
                ORDER BY score_e6 DESC, doc_id LIMIT 20),
      brank AS (SELECT doc_id,
                       row_number() OVER (ORDER BY score_e6 DESC, doc_id)
                         AS rank_s
                FROM bmtop),
      ${Similarity.ivfCtesSql("vec_id = 0", "iv")},
      drank AS (SELECT vec_id AS doc_id, rk AS rank_d
                FROM ivranked WHERE rk <= 20)
      SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
             coalesce(b.rank_s, 0)::BIGINT AS rank_sparse,
             coalesce(d.rank_d, 0)::BIGINT AS rank_dense,
             (CASE WHEN b.rank_s IS NULL THEN 0
                   ELSE 1000000 // (60 + b.rank_s) END
              + CASE WHEN d.rank_d IS NULL THEN 0
                     ELSE 1000000 // (60 + d.rank_d) END)::BIGINT AS rrf_e6
      FROM brank b FULL OUTER JOIN drank d ON b.doc_id = d.doc_id
      ORDER BY rrf_e6 DESC, doc_id
      LIMIT 15"""),

    // -- per-document n-gram novelty (the "how much of this doc is new
    //    text" curation signal, cf. Lee et al.'s dedup ablations):
    //    fraction of a doc's DISTINCT token 8-grams whose first corpus
    //    occurrence (min doc_id) is this doc. Grams are xxhash64'd to
    //    fixed 8-byte keys before BOTH shuffles — the 100 TB shape; the
    //    wide gram string never crosses an exchange (2^-64 collision
    //    odds, the same tolerance as the engine's md5 dedup keys). The
    //    gram stream is scanned twice (first-occurrence agg + join
    //    back) rather than checkpointed: at corpus scale a re-scan is
    //    cheaper than materializing the gram stream. Docs shorter than
    //    8 tokens emit nothing ---------------------------------------------
    Query("txt_ngram_novelty", (s, d) =>
      ngramNoveltyFrom(Tables.documents(s, d)),
      // Novelty over raw grams (the Spark side's xxhash64 key is an
      // internal fixed-width shuffle key, transparent to the result).
      s"""
      WITH t AS (SELECT doc_id, ${Text.sqlTokens("text")} AS toks FROM documents),
           g0 AS (SELECT doc_id,
                         unnest(list_transform(range(1, len(toks) - 6),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                || ' ' || toks[i+3] || ' ' || toks[i+4] || ' '
                                || toks[i+5] || ' ' || toks[i+6] || ' '
                                || toks[i+7])) AS ngram
                  FROM t WHERE len(toks) >= 8),
           g AS (SELECT DISTINCT doc_id, ngram FROM g0),
           f AS (SELECT ngram, min(doc_id) AS first_doc FROM g GROUP BY ngram)
      SELECT g.doc_id,
             count(1) AS n_grams,
             sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
             (sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
               * 1000) // count(1) AS novel_mille
      FROM g JOIN f USING (ngram)
      GROUP BY g.doc_id
      ORDER BY doc_id"""),

    // -- character-class entropy (quality signal: gibberish and
    //    boilerplate sit at the distribution's extremes). Two-step
    //    select: 36 per-class counts (one replace each), then the
    //    Shannon sum folded in FIXED a..z0..9 order — both engines
    //    evaluate the identical expression tree left-to-right, so the
    //    1e6-scaled result is stable (same argument as the ln-based
    //    TF-IDF scores, see module scaladoc) -------------------------------
    Query("txt_entropy", (s, d) => {
      val classes = ('a' to 'z') ++ ('0' to '9')
      val lt = lower(col("text"))
      val counted = Tables.documents(s, d).select(
        col("doc_id") +: classes.map(c =>
          (length(lt) - length(replace(lt, lit(c.toString), lit(""))))
            .cast("long").as(s"c_$c")): _*)
      val total = classes.map(c => col(s"c_$c")).reduce(_ + _)
      val ent = classes.map { c =>
        val p = col(s"c_$c").cast("double") / col("n_alnum")
        when(col(s"c_$c") > 0, -(p * log(p))).otherwise(lit(0.0))
      }.reduce(_ + _)
      counted
        .withColumn("n_alnum", total)
        .select(col("doc_id"), col("n_alnum"),
          when(col("n_alnum") === 0, 0L)
            .otherwise(round(ent * 1e6).cast("long")).as("entropy_e6"))
        .orderBy("doc_id")
    },
      {
      val classes = ('a' to 'z') ++ ('0' to '9')
      val cnts = classes.map(c =>
        s"(length(lower(text)) - length(replace(lower(text), '$c', '')))::BIGINT AS c_$c")
        .mkString(",\n               ")
      val total = classes.map(c => s"c_$c").mkString(" + ")
      val ent = classes.map(c =>
        s"(CASE WHEN c_$c > 0 THEN -((c_$c::DOUBLE / n_alnum) * ln(c_$c::DOUBLE / n_alnum)) ELSE 0.0 END)")
        .mkString("\n               + ")
      s"""
      WITH counted AS (
        SELECT doc_id,
               $cnts
        FROM documents),
      tot AS (SELECT *, ($total)::BIGINT AS n_alnum FROM counted)
      SELECT doc_id, n_alnum,
             CASE WHEN n_alnum = 0 THEN 0
                  ELSE round(($ent) * 1e6)::BIGINT END AS entropy_e6
      FROM tot
      ORDER BY doc_id"""
    }),

    // -- length histogram -------------------------------------------------
    Query("txt_length_hist", (s, d) =>
      Tables.documents(s, d)
        .groupBy(floor(col("n_chars") / 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("bucket"),
      """
      SELECT floor(n_chars / 100)::BIGINT AS bucket,
             count(1) AS n,
             min(n_chars) AS min_chars,
             max(n_chars) AS max_chars
      FROM documents
      GROUP BY 1
      ORDER BY bucket"""),

    // -- winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    //    algorithm): hash every token 3-gram with the exact polynomial
    //    fold of txt_rolling_hash, slide a window of 4 consecutive gram
    //    hashes, keep each window's minimum. Guarantee: any shared
    //    substring of >= k+w-1 = 6 tokens yields at least one shared
    //    fingerprint, with ~2/(w+1) of the grams selected — the bounded-
    //    density sketch for exact-substring-match detection at corpus
    //    scale. Per-row map-only HOF work + one distinct; docs shorter
    //    than 6 tokens have no complete window and emit nothing --------------
    Query("txt_winnow", (s, d) => winnowFrom(Tables.documents(s, d)),
      s"""
      SELECT doc_id, fp FROM $sqlWinnowFps
      ORDER BY doc_id, fp"""),

    // -- Gopher quality rules (Rae et al. 2021, §A1.1): the document-
    //    level heuristic gate every large text pipeline runs before
    //    training. All thresholds compared in exact integer arithmetic
    //    (3n <= chars <= 10n instead of a double mean) so both engines
    //    agree bit-for-bit; one tokenize pass, map-only -------------------
    Query("txt_gopher", (s, d) => gopherFrom(Tables.documents(s, d)),
      s"""
      SELECT doc_id, n_tokens, word_chars, n_alpha_words, n_stop,
             r_wordcount, r_meanwordlen, r_alphafrac, r_stopwords,
             gopher_pass
      FROM $sqlGopherFlags
      ORDER BY doc_id"""),

    // -- Naive-Bayes quality classifier (see nbQualityFrom): the
    //    model-based filter pass over Gopher weak labels ---------------
    Query("txt_nb_quality", (s, d) => nbQualityFrom(Tables.documents(s, d)),
      // weak labels from the gopher gate; two lnDet staging chains (one
      // for the per-term llr, one for the 1-row prior), then all-integer
      // scoring — the exact mirror of nbQualityFrom
      {
      val dm = graft.functions.DetMath
      s"""
      WITH lab AS (SELECT doc_id, gopher_pass FROM $sqlGopherFlags),
           tf AS (SELECT doc_id, w, count(1)::BIGINT AS tf
                  FROM (SELECT doc_id, unnest(${Text.sqlTokens("lower(text)")}) AS w
                        FROM documents)
                  GROUP BY doc_id, w),
           byc AS (SELECT w,
                          sum(CASE WHEN gopher_pass THEN tf ELSE 0 END)::BIGINT AS cp,
                          sum(CASE WHEN gopher_pass THEN 0 ELSE tf END)::BIGINT AS cn
                   FROM tf JOIN lab USING (doc_id)
                   GROUP BY w),
           tot AS (SELECT sum(cp)::BIGINT AS tp, sum(cn)::BIGINT AS tn,
                          count(1)::BIGINT AS v
                   FROM byc),
           pr0 AS (SELECT (sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) + 1)::DOUBLE AS xa,
                          (sum(CASE WHEN gopher_pass THEN 0 ELSE 1 END) + 1)::DOUBLE AS xb
                   FROM lab),
           pr1 AS (SELECT *, ${dm.eSql("xa")} AS ea, ${dm.eSql("xb")} AS eb
                   FROM pr0),
           pr2 AS (SELECT *, ${dm.ySql("xa", "ea")} AS ya,
                          ${dm.ySql("xb", "eb")} AS yb FROM pr1),
           pr3 AS (SELECT *, ${dm.zSql("ya")} AS za, ${dm.zSql("yb")} AS zb
                   FROM pr2),
           pr4 AS (SELECT *, (za * za) AS za2, (zb * zb) AS zb2 FROM pr3),
           prior AS (SELECT round((${dm.lnSqlFromParts("ea", "za", "za2")}
                       - ${dm.lnSqlFromParts("eb", "zb", "zb2")})
                       * 1e6)::BIGINT AS prior_mu
                     FROM pr4),
           l0 AS (SELECT w, ((cp + 1) * (tn + v))::DOUBLE AS xa,
                         ((cn + 1) * (tp + v))::DOUBLE AS xb
                  FROM byc, tot),
           l1 AS (SELECT *, ${dm.eSql("xa")} AS ea, ${dm.eSql("xb")} AS eb
                  FROM l0),
           l2 AS (SELECT *, ${dm.ySql("xa", "ea")} AS ya,
                         ${dm.ySql("xb", "eb")} AS yb FROM l1),
           l3 AS (SELECT *, ${dm.zSql("ya")} AS za, ${dm.zSql("yb")} AS zb
                  FROM l2),
           l4 AS (SELECT *, (za * za) AS za2, (zb * zb) AS zb2 FROM l3),
           llr AS (SELECT w, round((${dm.lnSqlFromParts("ea", "za", "za2")}
                     - ${dm.lnSqlFromParts("eb", "zb", "zb2")})
                     * 1e6)::BIGINT AS llr_mu
                   FROM l4),
           sc AS (SELECT doc_id, count(1)::BIGINT AS n_terms,
                         sum(tf * llr_mu)::BIGINT AS tok_mu
                  FROM tf JOIN llr USING (w)
                  GROUP BY doc_id)
      SELECT s.doc_id, s.n_terms,
             (p.prior_mu + s.tok_mu)::BIGINT AS nb_micronat,
             (p.prior_mu + s.tok_mu > 0) AS nb_pass,
             l.gopher_pass
      FROM sc s
      CROSS JOIN prior p
      JOIN lab l ON s.doc_id = l.doc_id
      ORDER BY s.doc_id"""
    }),

    // -- code-vs-prose detection: symbol/digit density classifier --------
    //    The curation signal that routes code OUT of a prose corpus
    //    (or into a code-specific mix weight): per-doc counts of
    //    code-shaped characters ({}[]();=<>... ) and digits, density
    //    in integer per-mille, threshold rule. Deterministic code
    //    fragments are injected per doc_id (the pii_scan discipline —
    //    this synthetic corpus has no code of its own), so whether a
    //    doc crosses the density threshold is EMERGENT arithmetic
    //    (fragment symbols vs the doc's own length), not a planted
    //    flag. One scan, two codegen'd regexp_replace strips, all
    //    integer — per-row regex cost rides the same WholeStageCodegen
    //    path the PII scan times.
    Query("txt_code_detect", (s, d) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" if (x < y) { return arr[i]; }")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" for i in range(10): total += vals[i]")).otherwise(lit("")))
      val symPat = "[{}\\[\\]();=<>+*/&|#:]"
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(aug).cast("long").as("n_chars"),
          (length(aug) - length(regexp_replace(aug, symPat, "")))
            .cast("long").as("sym_chars"),
          (length(aug) - length(regexp_replace(aug, "[0-9]", "")))
            .cast("long").as("digit_chars"))
        .select(col("doc_id"), col("n_chars"), col("sym_chars"),
          col("digit_chars"),
          expr("(1000 * sym_chars) DIV n_chars").as("sym_mille"),
          (expr("(1000 * sym_chars) DIV n_chars") >= 10).as("is_code"))
        .orderBy("doc_id")
    },
      // injected fragments mirrored verbatim; DuckDB regexp_replace
      // needs the 'g' flag for the replace-all Spark does by default
      """
      WITH a AS (SELECT doc_id,
                   text || (CASE WHEN doc_id % 5 = 0
                              THEN ' if (x < y) { return arr[i]; }'
                              ELSE '' END)
                        || (CASE WHEN doc_id % 7 = 0
                              THEN ' for i in range(10): total += vals[i]'
                              ELSE '' END) AS t
                 FROM documents),
           m AS (SELECT doc_id, length(t)::BIGINT AS n_chars,
                        (length(t) - length(regexp_replace(t,
                          '[{}\[\]();=<>+*/&|#:]', '', 'g')))::BIGINT
                          AS sym_chars,
                        (length(t) - length(regexp_replace(t,
                          '[0-9]', '', 'g')))::BIGINT AS digit_chars
                 FROM a)
      SELECT doc_id, n_chars, sym_chars, digit_chars,
             ((1000 * sym_chars) // n_chars)::BIGINT AS sym_mille,
             (((1000 * sym_chars) // n_chars) >= 10) AS is_code
      FROM m ORDER BY doc_id"""),

    // -- bigram-LM document scoring (the CCNet/KenLM-shaped quality
    //    signal): train a maximum-likelihood bigram model on the corpus
    //    itself, score each document by its average per-bigram negative
    //    log-likelihood nll(w1 w2) = ln c(w1) - ln c(w1 w2) >= 0.
    //    Each term is rounded to integer MICRONATS before the per-doc
    //    sum, so aggregation order can't move the result (integer sum),
    //    and avg = sum DIV n stays in exact integer arithmetic — the
    //    1-ulp libm argument (module scaladoc) covers the single
    //    round(). Shapes: two hash-agg count tables (bigram + unigram,
    //    both corpus-bounded), two equi-joins back to the bigram
    //    stream — at 100 TB the unigram table broadcasts and the
    //    bigram join shuffles once on the gram key -----------------------
    Query("txt_lm_score", (s, d) => lmScoreFrom(Tables.documents(s, d)),
      s"""
      SELECT doc_id, n_bigrams, nll_micronat, avg_micronat
      FROM $sqlLmScores
      ORDER BY doc_id"""),

    // -- DATASET CARD: the per-source datasheet a corpus release ships
    //    with — doc/lang/char/token counts, Gopher-quality pass count,
    //    and exact-duplicate count, in one rollup composing three
    //    oracle-proven signals (fused tokenize, Gopher gate, md5 exact
    //    dedup). Shapes: one tokenize pass, one digest agg, one join,
    //    one final hash agg — the whole card is two shuffles at any
    //    corpus size. ---------------------------------------------------
    // -- in-flight pipeline counters via Dataset.observe (the
    //    accumulator-backed metrics API): a curation gate reports its
    //    input volume, kept count and kept char mass from the SAME
    //    scan that drives the pipeline — zero extra jobs, the
    //    production alternative to a separate count() per stage (the
    //    plan-time-scan anti-pattern bm25From once carried, stamped
    //    out for good here: at 100 TB a redundant counting scan is
    //    real money). The observed map becomes the 1-row result; the
    //    oracle computes the identical aggregates explicitly ------------
    Query("pipe_observe_metrics", (s, d) => {
      val keep = col("n_chars").between(200, 3000)
      val obs = org.apache.spark.sql.Observation("pipe_gate")
      val observed = Tables.documents(s, d)
        .observe(obs,
          count(lit(1)).as("n_in"),
          // coalesce like chars_kept: on an EMPTY corpus sum() is NULL
          // and the Number cast below would NPE (r13 advice)
          coalesce(sum("n_chars"), lit(0L)).as("chars_in"),
          count_if(keep).as("n_kept"),
          coalesce(sum(when(keep, col("n_chars"))), lit(0L))
            .as("chars_kept"))
      // one job over the observed scan, zero sink cost — the metrics
      // ride the job's accumulators, no second pass over the corpus
      observed.filter(keep).write.format("noop").mode("overwrite").save()
      val m = obs.get
      def g(k: String): Long = m(k).asInstanceOf[Number].longValue()
      val (nIn, nKept) = (g("n_in"), g("n_kept"))
      s.range(1).select(
        lit(nIn).as("n_in"),
        lit(nKept).as("n_kept"),
        lit(if (nIn == 0L) 0L else nKept * 1000L / nIn)
          .as("kept_per_mille"),
        lit(g("chars_in")).as("chars_in"),
        lit(g("chars_kept")).as("chars_kept"))
    },
      // the observe() counters, recomputed as plain aggregates: the
      // Spark side reports what its accumulators saw in one pass; the
      // oracle proves those numbers ARE the explicit aggregates
      """
      SELECT count(1)::BIGINT AS n_in,
             (count(1) FILTER (WHERE n_chars BETWEEN 200 AND 3000))::BIGINT
               AS n_kept,
             (CASE WHEN count(1) = 0 THEN 0
                   ELSE (count(1) FILTER (WHERE n_chars BETWEEN 200
                     AND 3000)) * 1000 // count(1) END)::BIGINT
               AS kept_per_mille,
             COALESCE(sum(n_chars), 0)::BIGINT AS chars_in,
             COALESCE(sum(n_chars) FILTER (WHERE n_chars BETWEEN 200
               AND 3000), 0)::BIGINT AS chars_kept
      FROM documents"""),

    Query("pipe_dataset_card", (s, d) => {
      val docs = Tables.documents(s, d)
      val g = gopherFrom(docs).select("doc_id", "n_tokens", "gopher_pass")
      val h = docs.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"), md5(col("text").cast("binary")).as("h"))
      val hc = h.groupBy("h").agg(count(lit(1)).as("nh"))
      h.join(hc, "h")
        .join(g, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_chars").as("total_chars"),
          sum("n_tokens").as("total_tokens"),
          sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("nh") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
        .orderBy("source")
    },
      s"""
      WITH g AS (SELECT doc_id, n_tokens, gopher_pass FROM $sqlGopherFlags),
           h AS (SELECT doc_id, source, lang, n_chars, md5(text) AS h
                 FROM documents),
           hc AS (SELECT h, count(1) AS nh FROM h GROUP BY h)
      SELECT source,
             count(1) AS n_docs,
             count(DISTINCT lang)::BIGINT AS n_langs,
             sum(n_chars)::BIGINT AS total_chars,
             sum(n_tokens)::BIGINT AS total_tokens,
             sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END)::BIGINT
               AS n_quality,
             sum(CASE WHEN nh >= 2 THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_docs
      FROM h
      JOIN hc USING (h)
      JOIN g USING (doc_id)
      GROUP BY source
      ORDER BY source"""),

    // -- deterministic output sharding + release manifest: the step
    //    that writes a curated corpus as N fixed shards. Shard = md5
    //    per-doc mod 64 (the pipe_split idiom: stable under re-runs,
    //    re-partitioning and engine choice — a re-ingested corpus
    //    lands every doc in the same shard). Per-shard doc/char
    //    counts plus an ORDER-FREE content digest: bit_xor of each
    //    doc's 48-bit text md5 — XOR commutes and never overflows, so
    //    the digest is identical no matter how the shard's rows were
    //    partitioned, and any single-doc content change flips it. One
    //    hash agg over the scan at any corpus size; the manifest is
    //    what a consumer diffs to detect a silently-changed shard. ----
    // -- PII audit scan: detect + classify personal data before a
    //    release (the privacy pass every training-data pipeline runs).
    //    Deterministic PII fragments are injected per doc_id (the
    //    url_canonical pattern — the corpus itself carries none), then
    //    the scan counts docs per class: email, phone, IPv4, and
    //    16-digit card numbers VALIDATED with the real Luhn checksum —
    //    computed in pure codegen'd HOF arithmetic (transform +
    //    aggregate over the 16 digit positions, double-every-second-
    //    from-the-right, fold >9 to digit sum), mirrored list_transform
    //    -for-list_transform in the oracle. Whether a given injected
    //    number passes Luhn is emergent arithmetic, not a planted flag
    //    — both engines must compute the same checksum to agree. One
    //    scan, one aggregate; regexes run per row inside codegen. -----
    Query("pipe_pii_scan", (s, d) => piiScanFrom(Tables.documents(s, d)),
      // shard assignment + xor digest mirrored hash-for-hash: DuckDB's
      // bit_xor over the same 48-bit text-md5 longs is the same
      // order-free fold
      // fragment construction + Luhn fold mirrored step-for-step
      """
      WITH a AS (
        SELECT text ||
               (CASE WHEN doc_id % 4 = 0 THEN ' contact user' ||
                 (doc_id % 1000)::VARCHAR || '@example.com' ELSE '' END) ||
               (CASE WHEN doc_id % 6 = 0 THEN ' call +1-555-' ||
                 lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END) ||
               (CASE WHEN doc_id % 5 = 0 THEN ' host 10.' ||
                 (doc_id % 256)::VARCHAR || '.0.' ||
                 (doc_id % 100)::VARCHAR ELSE '' END) ||
               (CASE WHEN doc_id % 3 = 0 THEN ' card 4' ||
                 lpad(((doc_id * 7919) % 1000000000000000)::VARCHAR,
                   15, '0') ELSE '' END) AS aug
        FROM documents),
      f AS (
        SELECT regexp_matches(aug,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS e,
               regexp_matches(aug, '\+1-555-\d{4}') AS p,
               regexp_matches(aug,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b') AS ip,
               regexp_extract(aug, '\b(\d{16})\b', 1) AS cc
        FROM a),
      l AS (
        SELECT e, p, ip, cc <> '' AS c,
               CASE WHEN cc <> '' THEN
                 (list_aggregate(list_transform(range(1, 17), i ->
                    CASE WHEN (17 - i) % 2 = 0 THEN
                      CASE WHEN cc[i]::INT * 2 > 9 THEN cc[i]::INT * 2 - 9
                           ELSE cc[i]::INT * 2 END
                    ELSE cc[i]::INT END), 'sum') % 10 = 0)
               ELSE false END AS cv
        FROM f)
      SELECT count(1) AS n_docs,
             coalesce(sum(CASE WHEN e THEN 1 END), 0)::BIGINT AS n_email,
             coalesce(sum(CASE WHEN p THEN 1 END), 0)::BIGINT AS n_phone,
             coalesce(sum(CASE WHEN ip THEN 1 END), 0)::BIGINT AS n_ipv4,
             coalesce(sum(CASE WHEN c THEN 1 END), 0)::BIGINT AS n_card,
             coalesce(sum(CASE WHEN cv THEN 1 END), 0)::BIGINT
               AS n_card_luhn_valid,
             coalesce(sum(CASE WHEN NOT e AND NOT p AND NOT ip AND NOT c
               THEN 1 END), 0)::BIGINT AS n_clean
      FROM l"""),

    // -- dataset release DIFF: what changed between two corpus drops --
    //    The audit a consumer runs before retraining: added / removed /
    //    changed / unchanged doc counts plus changed-char volume, by
    //    full-outer-joining the two releases' (doc_id, text-digest)
    //    frames — digests only, the text never shuffles (at 100 TB the
    //    digest IS the diffable unit; pipe_shard_manifest's bit_xor
    //    digest detects THAT a shard changed, this op says WHICH docs
    //    and HOW MANY). Releases derive deterministically from the
    //    corpus: the previous drop misses doc_id % 7 == 0 (since
    //    added), the current drop dropped % 5 == 0 (removed), and
    //    % 3 == 0 docs were re-crawled (changed text). -----------------
    Query("pipe_dataset_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h_prev"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" [recrawl v2]")))
            .otherwise(col("text"))).as("h_cur"),
          col("n_chars"))
      prev.join(cur, Seq("doc_id"), "full_outer")
        .agg(
          coalesce(sum(when(col("h_prev").isNull, 1L)), lit(0L))
            .as("n_added"),
          coalesce(sum(when(col("h_cur").isNull, 1L)), lit(0L))
            .as("n_removed"),
          coalesce(sum(when(col("h_prev").isNotNull &&
            col("h_cur").isNotNull &&
            col("h_prev") =!= col("h_cur"), 1L)), lit(0L))
            .as("n_changed"),
          coalesce(sum(when(col("h_prev") === col("h_cur"), 1L)),
            lit(0L)).as("n_unchanged"),
          coalesce(sum(when(col("h_prev").isNotNull &&
            col("h_cur").isNotNull &&
            col("h_prev") =!= col("h_cur"), col("n_chars"))), lit(0L))
            .as("changed_chars"))
    },
      """
      WITH prev AS (SELECT doc_id, md5(text) AS h_prev FROM documents
                    WHERE doc_id % 7 <> 0),
           cur AS (SELECT doc_id,
                          md5(CASE WHEN doc_id % 3 = 0
                              THEN text || ' [recrawl v2]'
                              ELSE text END) AS h_cur,
                          n_chars
                   FROM documents WHERE doc_id % 5 <> 0),
           j AS (SELECT prev.h_prev, cur.h_cur, cur.n_chars
                 FROM prev FULL OUTER JOIN cur USING (doc_id))
      SELECT coalesce(sum(CASE WHEN h_prev IS NULL THEN 1 END), 0)::BIGINT
               AS n_added,
             coalesce(sum(CASE WHEN h_cur IS NULL THEN 1 END), 0)::BIGINT
               AS n_removed,
             coalesce(sum(CASE WHEN h_prev IS NOT NULL
               AND h_cur IS NOT NULL AND h_prev <> h_cur THEN 1 END),
               0)::BIGINT AS n_changed,
             coalesce(sum(CASE WHEN h_prev = h_cur THEN 1 END), 0)::BIGINT
               AS n_unchanged,
             coalesce(sum(CASE WHEN h_prev IS NOT NULL
               AND h_cur IS NOT NULL AND h_prev <> h_cur
               THEN n_chars END), 0)::BIGINT AS changed_chars
      FROM j"""),

    Query("pipe_shard_manifest", (s, d) => {
      val shard = conv(substring(md5(concat(lit("shard|"),
        col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long") % 64
      Tables.documents(s, d)
        .select(shard.as("shard"), col("n_chars"),
          conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
            .cast("long").as("th"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          expr("bit_xor(th)").as("content_digest"))
        .orderBy("shard")
    },
      """
      WITH s AS (
        SELECT ('0x' || substr(md5('shard|' || doc_id), 1, 12))::BIGINT
                 % 64 AS shard,
               n_chars,
               ('0x' || substr(md5(text), 1, 12))::BIGINT AS th
        FROM documents)
      SELECT shard, count(1) AS n_docs,
             sum(n_chars)::BIGINT AS total_chars,
             bit_xor(th)::BIGINT AS content_digest
      FROM s
      GROUP BY shard
      ORDER BY shard"""),

    // -- per-column data-quality profile (the Deequ/whylogs-style audit
    //    a pipeline runs before training on a new drop): one row per
    //    column with row/null/distinct counts and min/max. ONE scan —
    //    all 21 aggregates ride a single Aggregate (Catalyst plans the
    //    multi-distinct via Expand: 5 distinct columns = a 5x row
    //    multiplier over NARROW projected columns, the standard plan;
    //    text's distinct count runs over its 128-bit md5 digest so the
    //    wide column never shuffles — at 100 TB the digest IS the
    //    scalable choice, exact up to 2^-128 collisions). The column
    //    pivot is a `stack` over the one aggregated row: zero extra
    //    jobs, no per-column rescans. min/max of text are compared on
    //    a 40-char prefix AFTER the full-string min/max (binary
    //    collation in both engines), keeping the result row narrow. ----
    Query("pipe_profile", (s, d) => {
      val doc = Tables.documents(s, d)
      def nulls(c: String) =
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
      val prof = doc.agg(
        count(lit(1)).as("n"),
        nulls("doc_id"), countDistinct(col("doc_id")).as("doc_id_d"),
        min("doc_id").cast("string").as("doc_id_min"),
        max("doc_id").cast("string").as("doc_id_max"),
        nulls("text"),
        countDistinct(md5(col("text").cast("binary"))).as("text_d"),
        substring(min("text"), 1, 40).as("text_min"),
        substring(max("text"), 1, 40).as("text_max"),
        nulls("lang"), countDistinct(col("lang")).as("lang_d"),
        min("lang").as("lang_min"), max("lang").as("lang_max"),
        nulls("source"), countDistinct(col("source")).as("source_d"),
        min("source").as("source_min"), max("source").as("source_max"),
        nulls("n_chars"), countDistinct(col("n_chars")).as("n_chars_d"),
        min("n_chars").cast("string").as("n_chars_min"),
        max("n_chars").cast("string").as("n_chars_max"))
      prof.select(expr(
        """stack(5,
           'doc_id',  n, doc_id_nulls,  doc_id_d,  doc_id_min,  doc_id_max,
           'lang',    n, lang_nulls,    lang_d,    lang_min,    lang_max,
           'n_chars', n, n_chars_nulls, n_chars_d, n_chars_min, n_chars_max,
           'source',  n, source_nulls,  source_d,  source_min,  source_max,
           'text',    n, text_nulls,    text_d,    text_min,    text_max)
           AS (col_name, n_rows, n_null, n_distinct, min_val, max_val)"""))
        .orderBy("col_name")
    },
      """
      SELECT 'doc_id' AS col_name, count(1) AS n_rows,
             sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             min(doc_id)::VARCHAR AS min_val, max(doc_id)::VARCHAR AS max_val
      FROM documents
      UNION ALL
      SELECT 'lang', count(1),
             sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT lang), min(lang), max(lang)
      FROM documents
      UNION ALL
      SELECT 'n_chars', count(1),
             sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT n_chars),
             min(n_chars)::VARCHAR, max(n_chars)::VARCHAR
      FROM documents
      UNION ALL
      SELECT 'source', count(1),
             sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT source), min(source), max(source)
      FROM documents
      UNION ALL
      SELECT 'text', count(1),
             sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT md5(text)),
             substr(min(text), 1, 40), substr(max(text), 1, 40)
      FROM documents
      ORDER BY col_name"""),

    // -- unicode NFC normalization (own codegen'd Catalyst expression,
    //    functions/UnicodeNorm.scala): the ingest step that makes the
    //    rest of the pipeline's byte-keyed arithmetic (dedup digests,
    //    shingles, group-by keys) see composed and decomposed forms of
    //    the SAME text as equal. The corpus is ASCII (structurally
    //    NFC), so the semantic surface is exercised by attaching BOTH
    //    canonical-equivalent suffix forms — decomposed e+U+0301 and
    //    precomposed U+00E9 — to every doc: byte-equal raw 0 times,
    //    NFC-equal every time, with the composed form strictly shorter
    //    in codepoints. One scan, one row out; the normalize itself is
    //    a projection expression inside WholeStageCodegen (the
    //    isNormalized fast path makes already-clean rows free). Oracle:
    //    DuckDB nfc_normalize (utf8proc) — same Unicode canonical
    //    composition, byte-identical outputs. --------------------------
    Query("txt_unicode_norm", (s, d) => {
      val frag = substring(col("text"), 1, 24)
      val dec = concat(frag, lit(SUFFIX_DECOMPOSED))
      val pre = concat(frag, lit(SUFFIX_PRECOMPOSED))
      val ndec = graft.functions.UnicodeNorm.nfc(s, dec)
      val npre = graft.functions.UnicodeNorm.nfc(s, pre)
      Tables.documents(s, d)
        .select(dec.as("md"), pre.as("mp"), ndec.as("nd"), npre.as("np"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("md") === col("mp"), 1L).otherwise(0L))
            .as("n_raw_eq"),
          sum(when(col("nd") === col("np"), 1L).otherwise(0L))
            .as("n_norm_eq"),
          sum(length(col("md"))).as("chars_dec"),
          sum(length(col("nd"))).as("chars_norm"),
          countDistinct(md5(col("nd").cast("binary"))).as("d_norm"))
    },
      // the canonically-equivalent suffix pair is embedded verbatim (the
      // JSON dump carries the raw UTF-8; DuckDB's nfc_normalize is the
      // same Unicode canonical composition java.text.Normalizer applies)
      s"""
      WITH b AS (SELECT substr(text, 1, 24) || '$SUFFIX_DECOMPOSED' AS md,
                        substr(text, 1, 24) || '$SUFFIX_PRECOMPOSED' AS mp
                 FROM documents),
           n AS (SELECT md, mp, nfc_normalize(md) AS nd,
                        nfc_normalize(mp) AS np
                 FROM b)
      SELECT count(1) AS n_docs,
             sum(CASE WHEN md = mp THEN 1 ELSE 0 END)::BIGINT AS n_raw_eq,
             sum(CASE WHEN nd = np THEN 1 ELSE 0 END)::BIGINT AS n_norm_eq,
             sum(length(md))::BIGINT AS chars_dec,
             sum(length(nd))::BIGINT AS chars_norm,
             count(DISTINCT md5(nd)) AS d_norm
      FROM n"""),

    // -- distribution drift between two corpus halves (PSI, the
    //    population-stability-index audit a pipeline runs between two
    //    data drops before retraining): n_chars bucketed by pure
    //    integer arithmetic (16 fixed-width buckets, identical formula
    //    both engines), per-bucket counts for the doc_id-parity halves
    //    in ONE agg (conditional sums — no self-join, no second scan),
    //    +1 Laplace smoothing so empty buckets stay finite, fractions
    //    in integer ppm, and the per-bucket PSI contribution
    //    (fa−fb)·(ln fa − ln fb) ≥ 0 floored to integer micronats via
    //    the bit-exact DetMath ln — order-free, so the oracle matches
    //    bit-for-bit. Totals attach as a window over the ≤17 bucket
    //    rows (post-agg: trivially small at any corpus size). ----------
    Query("pipe_drift", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      val ln = graft.functions.DetMath.lnColumn _
      Tables.documents(s, d)
        .select(expr("(least(n_chars, 4095) * 16) DIV 4096").as("bucket"),
          (col("doc_id") % 2).as("half"))
        .groupBy("bucket")
        .agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
        .withColumn("na", sum(col("ca") + 1).over(w))
        .withColumn("nb", sum(col("cb") + 1).over(w))
        .select(col("bucket"), col("ca"), col("cb"),
          greatest(expr("(1000000 * (ca + 1)) DIV na"), lit(1L))
            .as("fa_ppm"),
          greatest(expr("(1000000 * (cb + 1)) DIV nb"), lit(1L))
            .as("fb_ppm"))
        .select(col("bucket"), col("ca"), col("cb"),
          col("fa_ppm"), col("fb_ppm"),
          floor((col("fa_ppm") - col("fb_ppm")).cast("double") *
              (ln(col("fa_ppm").cast("double")) -
               ln(col("fb_ppm").cast("double"))))
            .cast("long").as("psi_micro"))
        .orderBy("bucket")
    },
      s"""
      WITH b AS (SELECT (least(n_chars, 4095) * 16) // 4096 AS bucket,
                        doc_id % 2 AS half
                 FROM documents),
           c AS (SELECT bucket,
                        sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
                        sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
                 FROM b GROUP BY bucket),
           t AS (SELECT bucket, ca, cb,
                        sum(ca + 1) OVER () AS na,
                        sum(cb + 1) OVER () AS nb
                 FROM c),
           f AS (SELECT bucket, ca, cb,
                        greatest((1000000 * (ca + 1)) // na, 1)::BIGINT AS fa_ppm,
                        greatest((1000000 * (cb + 1)) // nb, 1)::BIGINT AS fb_ppm
                 FROM t),
           p1 AS (SELECT *, ${graft.functions.DetMath.eSql("fa_ppm")} AS ea,
                         ${graft.functions.DetMath.eSql("fb_ppm")} AS eb
                  FROM f),
           p2 AS (SELECT *,
                    ${graft.functions.DetMath.ySql("fa_ppm::DOUBLE", "ea")} AS ya,
                    ${graft.functions.DetMath.ySql("fb_ppm::DOUBLE", "eb")} AS yb
                  FROM p1),
           p3 AS (SELECT *, ${graft.functions.DetMath.zSql("ya")} AS za,
                         ${graft.functions.DetMath.zSql("yb")} AS zb
                  FROM p2),
           p4 AS (SELECT *, (za * za) AS za2, (zb * zb) AS zb2 FROM p3)
      SELECT bucket, ca, cb, fa_ppm, fb_ppm,
             floor((fa_ppm - fb_ppm)::DOUBLE *
               (${graft.functions.DetMath.lnSqlFromParts("ea", "za", "za2")}
                - ${graft.functions.DetMath.lnSqlFromParts("eb", "zb", "zb2")}))::BIGINT
               AS psi_micro
      FROM p4
      ORDER BY bucket"""),

    // -- the MODERN curation pipeline, composed from this round's gates:
    //    Gopher rule gate -> bigram-LM score filter (drop the
    //    highest-perplexity tail) -> winnow-pair dedup (drop the
    //    higher-id member of every >= 3-shared-fingerprint pair) ->
    //    per-source corpus manifest. Every stage is an oracle-proven
    //    operator above; the composition itself is value-checked end to
    //    end. Shapes: three doc-keyed semi/anti joins against
    //    gate-output frames, each a fraction of the corpus ------------------
    // -- deterministic train/val/test split (98/1/1): md5 per-mille of
    //    a salted doc key — stable under re-runs, re-partitioning and
    //    engine choice (same md5 idiom as q_sample), so a re-ingested
    //    corpus never leaks val/test docs into train. Per-split
    //    manifest; the assignment itself is the `when` expression -------
    Query("pipe_split", (s, d) => {
      val mille = conv(substring(md5(concat(lit("split|"),
        col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long") % 1000
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          when(mille < 980, "train").when(mille < 990, "val")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("split")
    },
      """
      WITH s AS (
        SELECT doc_id, n_chars,
               ('0x' || substr(md5('split|' || doc_id), 1, 12))::BIGINT
                 % 1000 AS m
        FROM documents)
      SELECT CASE WHEN m < 980 THEN 'train'
                  WHEN m < 990 THEN 'val'
                  ELSE 'test' END AS split,
             count(1) AS n_docs,
             sum(n_chars)::BIGINT AS total_chars,
             min(doc_id) AS first_doc,
             max(doc_id) AS last_doc
      FROM s
      GROUP BY 1
      ORDER BY split"""),

    // -- curriculum staging: per-language EXACT score quartiles (the
    //    q_median_exact order-statistics idiom: lang-partitioned
    //    window, never a global single-partition one) split the corpus
    //    into 4 training stages, easiest (lowest bigram-LM surprisal)
    //    first. Boundary docs tie into the lower stage deterministically
    //    (integer micronat compares). Shapes: score pass -> one
    //    lang-partitioned window -> 4-row boundary frame broadcast back
    //    over the scores -> (lang, stage) agg. The boundary frame is
    //    |langs|-sized, so the assignment join broadcasts at any corpus
    //    scale ---------------------------------------------------------
    Query("pipe_curriculum", (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = lmScoreFrom(docs).select("doc_id", "avg_micronat")
        .join(docs.select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang").orderBy("avg_micronat")
      val wAll = Window.partitionBy("lang")
      val bounds = scored
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy("lang")
        .agg(
          min(when(col("rn") === expr("(n + 3) DIV 4"), col("avg_micronat"))).as("q1"),
          min(when(col("rn") === expr("(n + 1) DIV 2"), col("avg_micronat"))).as("q2"),
          min(when(col("rn") === expr("(3 * n + 3) DIV 4"), col("avg_micronat"))).as("q3"))
      scored.join(broadcast(bounds), "lang")
        .withColumn("stage",
          (lit(1) + when(col("avg_micronat") > col("q1"), 1).otherwise(0)
            + when(col("avg_micronat") > col("q2"), 1).otherwise(0)
            + when(col("avg_micronat") > col("q3"), 1).otherwise(0)).cast("long"))
        .groupBy("lang", "stage")
        .agg(count(lit(1)).as("n_docs"),
          min("avg_micronat").as("min_score"),
          max("avg_micronat").as("max_score"))
        .orderBy("lang", "stage")
    },
      s"""
      WITH sc AS (SELECT s.doc_id, s.avg_micronat, d.lang
                  FROM $sqlLmScores s JOIN documents d ON s.doc_id = d.doc_id),
           r AS (SELECT lang, avg_micronat,
                        row_number() OVER (PARTITION BY lang
                                           ORDER BY avg_micronat) AS rn,
                        count(1) OVER (PARTITION BY lang) AS n
                 FROM sc),
           b AS (SELECT lang,
                        min(CASE WHEN rn = (n + 3) // 4 THEN avg_micronat END) AS q1,
                        min(CASE WHEN rn = (n + 1) // 2 THEN avg_micronat END) AS q2,
                        min(CASE WHEN rn = (3 * n + 3) // 4 THEN avg_micronat END) AS q3
                 FROM r GROUP BY lang),
           st AS (SELECT sc.lang, sc.avg_micronat,
                         CAST(1 + CASE WHEN avg_micronat > q1 THEN 1 ELSE 0 END
                                + CASE WHEN avg_micronat > q2 THEN 1 ELSE 0 END
                                + CASE WHEN avg_micronat > q3 THEN 1 ELSE 0 END
                              AS BIGINT) AS stage
                  FROM sc JOIN b ON sc.lang = b.lang)
      SELECT lang, stage, count(1) AS n_docs,
             min(avg_micronat) AS min_score,
             max(avg_micronat) AS max_score
      FROM st
      GROUP BY lang, stage
      ORDER BY lang, stage"""),

    // -- data-mixture balancing: per-source downsampling weights that
    //    equalize the token budget across sources (the Pile-style mix
    //    step). weight_mille = min(1000, uniform_share / source_share)
    //    in pure integer per-mille; sources under their share keep
    //    everything (weight 1000), oversized sources downsample. One
    //    agg over the corpus + a 1-row total broadcast — the weights
    //    frame is |sources|-sized at any corpus scale -------------------
    Query("pipe_mix_weights", (s, d) => {
      val perSource = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text"))).as("n_tokens"))
        // a token-less source has no weight to compute — and guards the
        // integer division (NULL in Spark, an ERROR in DuckDB: the one
        // cross-engine divergence integer arithmetic doesn't cover)
        .filter(col("n_tokens") > 0)
      val totals = perSource.agg(sum("n_tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      perSource.crossJoin(broadcast(totals))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("least(1000, ((total_tokens DIV n_sources) * 1000) DIV n_tokens)")
            .as("weight_mille"))
        .withColumn("sampled_tokens",
          expr("(n_tokens * weight_mille) DIV 1000"))
        .orderBy("source")
    },
      s"""
      WITH ps AS (SELECT source, count(1) AS n_docs,
                         CAST(sum(len(${Text.sqlTokens("text")})) AS BIGINT) AS n_tokens
                  FROM documents GROUP BY source
                  HAVING CAST(sum(len(${Text.sqlTokens("text")})) AS BIGINT) > 0),
           t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                        count(1) AS n_sources
                 FROM ps)
      SELECT source, n_docs, n_tokens,
             least(1000, ((total_tokens // n_sources) * 1000) // n_tokens)
               AS weight_mille,
             (n_tokens * least(1000, ((total_tokens // n_sources) * 1000) // n_tokens)) // 1000
               AS sampled_tokens
      FROM ps CROSS JOIN t
      ORDER BY source"""),

    // -- weighted sampling WITHOUT replacement (Efraimidis & Spirakis,
    //    "Weighted random sampling with a reservoir", IPL 2006): each
    //    doc draws key = ln(u) / w with u a deterministic md5-slice
    //    uniform and w = n_chars; the top-k keys ARE a size-proportional
    //    sample — the primitive behind quality- and length-weighted
    //    mixture draws. One scan + one top-k, no shuffle beyond the
    //    bounded sort; md5 (not xxhash64) so the DuckDB oracle
    //    reproduces the exact sample. ln is [[graft.functions.DetMath]]
    //    — built only from correctly-rounded double ops, so the key is
    //    BIT-IDENTICAL across engines (no libm-vs-JVM last-ulp flake;
    //    ln(u) = lnDet(h+1) - 48·ln2 since u = (h+1)/2^48) ----------------
    Query("pipe_sample_weighted", (s, d) => {
      val h = conv(substring(md5(concat(lit("wsamp|"),
        col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long")
      val m = h.cast("double") + lit(1.0) // in [1, 2^48]: exact double
      val lnU = graft.functions.DetMath.lnColumn(m) - lit(LN_2P48)
      val key = lnU / greatest(col("n_chars"), lit(1)).cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          round(key * lit(1e9)).cast("long").as("key_e9"))
        .orderBy(col("key_e9").desc, col("doc_id"))
        .limit(10)
    },
      // DetMath deterministic ln, staged as named columns (one eval per
      // stage, like Catalyst subexpr elim): ln(u) = lnDet(h+1) − 48·ln2,
      // then / w → * 1e9, identical association — every double op is
      // correctly rounded on both engines, so key_e9 is bit-exact
      s"""
      WITH s0 AS (SELECT doc_id, n_chars,
                    (('0x' || substr(md5('wsamp|' || doc_id::VARCHAR),
                       1, 12))::BIGINT::DOUBLE + '1.0'::DOUBLE) AS x
                  FROM documents),
      s1 AS (SELECT *, ${graft.functions.DetMath.eSql("x")} AS e FROM s0),
      s2 AS (SELECT *, ${graft.functions.DetMath.ySql("x", "e")} AS y FROM s1),
      s3 AS (SELECT *, ${graft.functions.DetMath.zSql("y")} AS z FROM s2),
      s4 AS (SELECT *, (z * z) AS z2 FROM s3)
      SELECT doc_id, n_chars,
             round(((${graft.functions.DetMath.lnSqlFromParts("e", "z", "z2")}
                     - '$LN_2P48'::DOUBLE)
                    / greatest(n_chars, 1)::DOUBLE) * 1e9)::BIGINT AS key_e9
      FROM s4
      ORDER BY key_e9 DESC, doc_id
      LIMIT 10"""),

    Query("pipe_modern_curation", (s, d) => {
      val docs = Tables.documents(s, d)
      val gate = gopherFrom(docs).filter(col("gopher_pass")).select("doc_id")
      val lmOk = lmScoreFrom(docs)
        .filter(col("avg_micronat") <= LM_TAU).select("doc_id")
      val dupB = graft.queries.Dedup.winnowPairsFrom(docs)
        .select(col("b_id").as("doc_id")).distinct()
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(gate, Seq("doc_id"), "left_semi")
        .join(lmOk, Seq("doc_id"), "left_semi")
        .join(dupB, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("source")
    },
      s"""
      WITH gate AS (SELECT doc_id FROM $sqlGopherFlags WHERE gopher_pass),
           lmok AS (SELECT doc_id FROM $sqlLmScores
                    WHERE avg_micronat <= $LM_TAU),
           dup AS (SELECT DISTINCT b_id AS doc_id
                   FROM ${graft.queries.Dedup.sqlWinnowPairs}),
           kept AS (SELECT d.source, d.n_chars
                    FROM documents d
                    WHERE d.doc_id IN (SELECT doc_id FROM gate)
                      AND d.doc_id IN (SELECT doc_id FROM lmok)
                      AND d.doc_id NOT IN (SELECT doc_id FROM dup))
      SELECT source, count(1) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      FROM kept
      GROUP BY source
      ORDER BY source""")
  )

  /** Bigram-LM NLL cutoff for pipe_modern_curation (micronats) —
    * interpolated into BOTH the Spark filter and the oracle SQL.
    */
  private val LM_TAU = 3500000L

  /** txt_bm25's oracle CTE chain through `w(doc_id, w_e6)` — the
    * per-(doc, query-term) integer-scaled BM25 weights. Shared verbatim
    * by txt_bm25 and txt_hybrid_retrieval so the two oracles can never
    * drift. See bm25From's scaladoc for the DetMath/::DOUBLE
    * determinism discipline.
    */
  private def bm25CtesSql: String = s"""tf AS (
        SELECT doc_id, term, count(1)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(${Text.sqlTokens("text")}) AS term FROM documents)
        GROUP BY doc_id, term),
      df AS (SELECT term, count(1)::BIGINT AS df FROM tf GROUP BY term),
      dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
      stats AS (SELECT sum(dl)::DOUBLE / count(1) AS avgdl FROM dl),
      n AS (SELECT count(1)::DOUBLE AS n_docs FROM documents),
      q AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 3),
      w0 AS (SELECT tf.doc_id, tf.tf, dl.dl, stats.avgdl,
                    ('1.0'::DOUBLE
                     + (n.n_docs - q.df + '0.5'::DOUBLE)
                       / (q.df + '0.5'::DOUBLE)) AS x
             FROM tf
             JOIN q USING (term)
             JOIN dl USING (doc_id)
             CROSS JOIN stats CROSS JOIN n),
      w1 AS (SELECT *, ${graft.functions.DetMath.eSql("x")} AS e FROM w0),
      w2 AS (SELECT *, ${graft.functions.DetMath.ySql("x", "e")} AS y FROM w1),
      w3 AS (SELECT *, ${graft.functions.DetMath.zSql("y")} AS z FROM w2),
      w4 AS (SELECT *, (z * z) AS z2 FROM w3),
      w AS (SELECT doc_id,
                   round(${graft.functions.DetMath.lnSqlFromParts("e", "z", "z2")}
                         * (tf * '2.2'::DOUBLE)
                         / (tf + '1.2'::DOUBLE
                            * ('0.25'::DOUBLE
                               + '0.75'::DOUBLE * dl / avgdl))
                         * 1e6)::BIGINT AS w_e6
            FROM w4)"""

  /** 48·ln2 — the range-reduction constant for pipe_sample_weighted's
    * 48-bit uniform (u = m/2^48 → ln u = lnDet(m) − this). Computed
    * once here and interpolated into the oracle as a string literal so
    * both engines subtract the identical double.
    */
  private val LN_2P48: Double = 48.0 * graft.functions.DetMath.LN2

  /** Bigram-LM document scoring (see the txt_lm_score entry) over any
    * (doc_id, text) frame.
    */
  def lmScoreFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val bi = docs.select(col("doc_id"), graft.functions.NgramExplode
      .ngrams(s, lower(col("text")), 2).as("bg"))
    val c12 = bi.groupBy("bg").agg(count(lit(1)).as("c12"))
    val uni = docs.select(graft.functions.TokenizeExplode
        .tokenize(s, lower(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    bi.join(c12, "bg")
      .join(uni, substring_index(col("bg"), " ", 1) === col("w"))
      .select(col("doc_id"),
        // DetMath ln, not built-in log: counts are exact integers, so
        // both engines reduce/round the identical doubles bit-for-bit
        round((graft.functions.DetMath.lnColumn(col("c1").cast("double"))
          - graft.functions.DetMath.lnColumn(col("c12").cast("double"))) * 1e6)
          .cast("long").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("nll_micronat"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micronat"),
        expr("nll_micronat DIV n_bigrams").as("avg_micronat"))
      .orderBy("doc_id")
  }

  /** Support floor for [[pmiFrom]]: bigrams must occur at least this
    * often to be scored (PMI is noise below small supports — a
    * 1-occurrence pair of two rare words maxes the score). Mirrored
    * in the oracle.
    */
  val PMI_MIN_SUPPORT = 5

  /** Canonically-equivalent suffix pair for [[txt_unicode_norm]]: the
    * same text "Café über" spelled with combining marks (e + U+0301,
    * u + U+0308 — 11 codepoints) and precomposed (U+00E9, U+00FC — 9
    * codepoints). NFC maps the first onto the second, so the two are
    * byte-DIFFERENT raw and byte-IDENTICAL normalized — the exact
    * hazard unnormalized ingest feeds into hash-keyed dedup. Embedded
    * verbatim in the oracle SQL (the JSON dump carries the UTF-8).
    */
  val SUFFIX_DECOMPOSED = " Café über"
  val SUFFIX_PRECOMPOSED = " Café über"

  /** Collocation mining via pointwise mutual information (Church &
    * Hanks, "Word association norms, mutual information, and
    * lexicography", Computational Linguistics 16(1), 1990):
    * PMI(w1,w2) = ln(c12 * N / (c1 * c2)), N = corpus token count —
    * which adjacent token pairs co-occur far above chance. Computed
    * as ln(c12 * N) - ln(c1 * c2): both arguments are exact integers
    * >= 1 (the products stay below 2^53 to ~10^9-token margins, so
    * the double casts are exact), which keeps every input inside
    * [[graft.functions.DetMath]]'s x >= 1 contract even where PMI
    * itself is negative; `floor` (sign-uniform in both engines,
    * unlike round-half conventions) scales to micronats.
    *
    * Scale shape: bigram/unigram vocabularies are corpus-sublinear
    * hash aggs; the support filter shrinks the scored frame BEFORE
    * the two margin joins; N attaches as a broadcast 1-row agg (no
    * plan-time count job — the bm25 discipline); the global top-50
    * is a TakeOrderedAndProject.
    */
  def pmiFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val bi = docs.select(graft.functions.NgramExplode
      .ngrams(s, col("text"), 2).as("bg"))
    val c12 = bi.groupBy("bg").agg(count(lit(1)).as("c12"))
    val uni = docs.select(graft.functions.TokenizeExplode
        .tokenize(s, col("text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val n = uni.agg(sum("c1").as("nw"))
    c12.filter(col("c12") >= PMI_MIN_SUPPORT)
      .join(uni.select(col("w").as("wa"), col("c1").as("ca")),
        substring_index(col("bg"), " ", 1) === col("wa"))
      .join(uni.select(col("w").as("wb"), col("c1").as("cb")),
        substring_index(col("bg"), " ", -1) === col("wb"))
      .crossJoin(broadcast(n)) // 1-row N attach
      .select(col("bg").as("bigram"), col("c12").as("cnt"),
        floor((graft.functions.DetMath.lnColumn(
            (col("c12") * col("nw")).cast("double"))
          - graft.functions.DetMath.lnColumn(
            (col("ca") * col("cb")).cast("double"))) * 1e6)
          .cast("long").as("pmi_micronat"))
      .orderBy(col("pmi_micronat").desc, col("bigram"))
      .limit(50)
  }

  /** PII audit scan over any (doc_id, text) frame — see the
    * pipe_pii_scan registry comment. Deterministic fragments are
    * injected per doc_id; 16-digit candidates validate with the real
    * Luhn checksum in codegen'd HOF arithmetic (CaseWhen evaluates
    * lazily, so the digit casts never see the empty no-card string —
    * ANSI-safe).
    */
  def piiScanFrom(docs: DataFrame): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" contact user"), (col("doc_id") % 1000).cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" card 4"),
          lpad(((col("doc_id") * 7919) % 1000000000000000L).cast("string"),
            15, "0"))).otherwise(lit("")))
    val cc = regexp_extract(aug, "\\b(\\d{16})\\b", 1)
    val luhn = aggregate(
      transform(sequence(lit(1), lit(16)), i => {
        val dig = cc.substr(i, lit(1)).cast("int")
        val dd = when((lit(17) - i) % 2 === 0, dig * 2).otherwise(dig)
        when(dd > 9, dd - 9).otherwise(dd)
      }),
      lit(0), (acc, x) => acc + x)
    val hasEmail = aug.rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val hasPhone = aug.rlike("\\+1-555-\\d{4}")
    val hasIp = aug.rlike("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
    val hasCard = cc =!= ""
    docs
      .select(hasEmail.as("e"), hasPhone.as("p"), hasIp.as("ip"),
        hasCard.as("c"),
        when(hasCard, luhn % 10 === 0).otherwise(lit(false)).as("cv"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("e"), 1L)), lit(0L)).as("n_email"),
        coalesce(sum(when(col("p"), 1L)), lit(0L)).as("n_phone"),
        coalesce(sum(when(col("ip"), 1L)), lit(0L)).as("n_ipv4"),
        coalesce(sum(when(col("c"), 1L)), lit(0L)).as("n_card"),
        coalesce(sum(when(col("cv"), 1L)), lit(0L))
          .as("n_card_luhn_valid"),
        coalesce(sum(when(!col("e") && !col("p") && !col("ip") &&
          !col("c"), 1L)), lit(0L)).as("n_clean"))
  }

  /** RAKE keyphrase cap: candidate phrases longer than this many tokens
    * are discarded before any scoring (the classical guard — stopword-
    * free documents would otherwise fold into one doc-length phrase
    * whose string concat is an unbounded agg buffer). Mirrored in the
    * oracle's HAVING.
    */
  val RAKE_MAX_PHRASE = 4

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases =
    * maximal stopword-free token runs (gaps-and-islands over token
    * positions: island id = pos − row_number among non-stop rows, one
    * doc-partitioned window), capped at [[RAKE_MAX_PHRASE]] tokens.
    * Word score = deg/freq where freq counts the word's occurrences
    * across all phrase instances and deg adds each hosting phrase's
    * length; phrase score = sum of member word scores (with
    * multiplicity). All-integer: word scores floor to per-mille
    * (1000·deg DIV freq) BEFORE the phrase sum, so the aggregate is
    * order-free and the oracle reproduces every score bit-for-bit.
    * Event-scale cost: the doc-partitioned position window + two hash
    * aggs; scoring runs on |distinct phrases| rows.
    */
  def rakeFrom(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(Text.tokensLower(col("text"))).as(Seq("pos", "w")))
    val ns = toks.filter(!col("w").isin(stopwords: _*))
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val phr = ns.groupBy("doc_id", "island")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x("w")), " ").as("phrase"),
        count(lit(1)).as("len"))
      .filter(col("len") <= RAKE_MAX_PHRASE)
    val pw = phr.select(col("len"),
      explode(split(col("phrase"), " ")).as("w"))
    val ws = pw.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("w"), expr("(1000 * deg) DIV freq").as("wscore_mille"))
    val pt = phr.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
    pt.select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(ws, "w")
      .groupBy("phrase", "n_occ")
      .agg(sum("wscore_mille").as("score_mille"))
      .orderBy(col("score_mille").desc, col("phrase"))
      .limit(25)
  }

  /** Winnowing fingerprint selection (see the txt_winnow entry) over any
    * (doc_id, text) frame — k=3 token grams, window w=4, polynomial gram
    * hash mod 1e9+7. Docs shorter than k+w-1 = 6 tokens emit nothing.
    * Runs the fused [[graft.functions.WinnowExplode]] generator (one
    * byte scan per doc); the DuckDB oracle mirrors the equivalent HOF
    * formulation value-for-value.
    */
  def winnowFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs
      .select(col("doc_id"), graft.functions.WinnowExplode
        .fingerprints(s, lower(col("text")), 3, 4).as("fp"))
      .orderBy("doc_id", "fp")
  }

  /** Gopher rule gate (see the txt_gopher entry) over any (doc_id, text)
    * frame. Integer-threshold forms of: word count in [50, 100k], mean
    * word length in [3, 10], >= 80% words with an alphabetic char,
    * >= 2 stopword hits.
    */
  def gopherFrom(docs: DataFrame): DataFrame = {
    val t = toks
    val nTok = size(t).cast("long")
    val nAlphaW = size(filter(t, w => w.rlike("[A-Za-z]"))).cast("long")
    val wordChars = aggregate(t, lit(0L), (acc, w) => acc + length(w))
    val nStop = stopCount(t)
    val rWc = nTok.between(50, 100000)
    val rMwl = wordChars >= nTok * 3 && wordChars <= nTok * 10
    val rAlpha = nAlphaW * 5 >= nTok * 4
    val rStop = nStop >= 2
    docs
      .select(col("doc_id"), nTok.as("n_tokens"),
        wordChars.as("word_chars"), nAlphaW.as("n_alpha_words"),
        nStop.as("n_stop"),
        rWc.as("r_wordcount"), rMwl.as("r_meanwordlen"),
        rAlpha.as("r_alphafrac"), rStop.as("r_stopwords"),
        (rWc && rMwl && rAlpha && rStop).as("gopher_pass"))
      .orderBy("doc_id")
  }

  /** Model-based quality classifier — the closed-form Naive-Bayes
    * filter pass (the DCLM/CCNet-style "train a classifier on weak
    * labels, score everything" step that completes the curation family
    * beyond rule gates): [[gopherFrom]]'s pass/fail gate provides the
    * weak labels, per-class token counts give Laplace-smoothed
    * log-likelihood ratios, and every document scores in one
    * tf·llr sum. All integer after the one per-TERM rounding:
    *
    *   llr(w)  = round(1e6·(lnDet((c_w,pos+1)·(T_neg+V))
    *                      − lnDet((c_w,neg+1)·(T_pos+V))))
    *   score_d = prior_mu + Σ_w tf_dw · llr(w),
    *   prior_mu = round(1e6·(lnDet(N_pos+1) − lnDet(N_neg+1)))
    *
    * lnDet is [[graft.functions.DetMath]] (bit-identical across
    * engines); ln arguments are exact integer-valued doubles, and the
    * single-fraction products stay below 2^53 to ~10^9-token margins
    * (the PMI argument — past that, split into four lnDet terms).
    *
    * Scale shape: training is a token-level hash agg + one |vocab|
    * agg (corpus-sublinear); class/prior totals attach as broadcast
    * 1-row aggs (no plan-time count — the bm25 discipline); scoring
    * is the tfidf join shape (tf ⋈ llr on w, then per-doc re-agg).
    * Self-scoring on the training corpus is the published bootstrap
    * shape: the model generalizes the rule gate smoothly instead of
    * reproducing it (NbQualitySpec pins exact scores on a seeded
    * corpus against an out-of-band pure-Scala computation).
    */
  def nbQualityFrom(docs: DataFrame): DataFrame = {
    val lab = gopherFrom(docs).select(col("doc_id"), col("gopher_pass"))
    val tf = docs.select(col("doc_id"), graft.functions.TokenizeExplode
        .tokenize(docs.sparkSession, lower(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val byc = tf.join(lab, "doc_id")
      .groupBy("w")
      .agg(sum(when(col("gopher_pass"), col("tf")).otherwise(0L)).as("cp"),
        sum(when(col("gopher_pass"), lit(0L)).otherwise(col("tf"))).as("cn"))
    val tot = byc.agg(sum("cp").as("tp"), sum("cn").as("tn"),
      count(lit(1)).as("v"))
    def lnMu(a: Column, b: Column): Column =
      round((graft.functions.DetMath.lnColumn(a.cast("double"))
        - graft.functions.DetMath.lnColumn(b.cast("double"))) * 1e6)
        .cast("long")
    val prior = lab.agg(
        (sum(when(col("gopher_pass"), 1L).otherwise(0L)) + 1).as("np1"),
        (sum(when(col("gopher_pass"), 0L).otherwise(1L)) + 1).as("nn1"))
      .select(lnMu(col("np1"), col("nn1")).as("prior_mu"))
    val llr = byc.crossJoin(broadcast(tot))
      .select(col("w"),
        lnMu((col("cp") + 1) * (col("tn") + col("v")),
          (col("cn") + 1) * (col("tp") + col("v"))).as("llr_mu"))
    tf.join(llr, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf") * col("llr_mu")).as("tok_mu"))
      .crossJoin(broadcast(prior))
      .join(lab, "doc_id")
      .select(col("doc_id"), col("n_terms"),
        (col("prior_mu") + col("tok_mu")).as("nb_micronat"),
        (col("prior_mu") + col("tok_mu") > 0).as("nb_pass"),
        col("gopher_pass"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[bpeTrain]]: the word-frequency CTE, the char
    * segmentation, then one (pairs -> argmax -> replace) CTE chain per
    * merge round, unrolled [[BPE_MERGES]] times (the kmeansRoundSql
    * discipline). `replace` has the same left-to-right non-overlapping
    * semantics in both engines, and the `|sym|` encoding makes one
    * pass one exact merge application — see [[segInit]].
    */
  private def bpeCtesSql(rounds: Int): String = {
    val head = s"""
      WITH wf AS (
        SELECT w, count(1)::BIGINT AS freq
        FROM (SELECT unnest(${Text.sqlTokens("lower(text)")}) AS w FROM documents)
        GROUP BY w),
      s0 AS (
        SELECT w, freq,
               '|' || array_to_string(
                 list_transform(range(1, length(w) + 1), i -> w[i]),
                 '||') || '|' AS seg
        FROM wf)"""
    val roundCtes = (1 to rounds).map { k =>
      s"""
      p$k AS (
        SELECT sy[i] AS l, sy[i + 1] AS r, sum(freq)::BIGINT AS cnt
        FROM (SELECT freq,
                     string_split(trim(seg, '|'), '||') AS sy,
                     unnest(range(1, len(string_split(trim(seg, '|'), '||')))) AS i
              FROM s${k - 1})
        GROUP BY 1, 2),
      m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
      s$k AS (
        -- LEFT JOIN ON TRUE: when a round has no pairs left, m$k is
        -- empty and the segmentation must pass through unchanged
        -- (mirroring bpeTrain's early stop) — a plain cross join would
        -- wipe the table and zero every downstream count
        SELECT w, freq,
               CASE WHEN m.l IS NULL THEN seg
                    ELSE replace(seg, '|' || m.l || '||' || m.r || '|',
                                 '|' || m.l || m.r || '|') END AS seg
        FROM s${k - 1} LEFT JOIN m$k m ON true)"""
    }.mkString(",")
    head + "," + roundCtes
  }

  /** DuckDB subquery yielding the (doc_id, fp) winnowing fingerprints —
    * the HOF mirror of [[winnowFrom]] / WinnowExplode (k=3, w=4, poly
    * hash base 31 mod 1e9+7). Shared with Dedup's winnow-pair oracle.
    */
  val sqlWinnowFps: String = s"""
      (WITH wt AS (SELECT doc_id, ${Text.sqlTokens("lower(text)")} AS ts FROM documents),
       wg AS (SELECT doc_id,
                     list_transform(range(1, len(ts) - 1),
                       i -> list_reduce(
                              list_prepend(0::BIGINT,
                                list_transform(
                                  string_split(ts[i] || ' ' || ts[i+1] || ' '
                                               || ts[i+2], ''),
                                  c -> ord(c)::BIGINT)),
                              (a, b) -> (a * 31 + b) % 1000000007)) AS gh
              FROM wt WHERE len(ts) >= 6),
       wf AS (SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, len(gh) - 2),
                       j -> list_min(gh[j : j + 3])))) AS fp
              FROM wg)
       SELECT doc_id, fp FROM wf)"""

  /** Train-then-encode oracle shared by txt_token_bpe (inline) and
    * txt_bpe_persist (loaded artifact): the unrolled training CTEs +
    * the word-table encode + per-doc re-agg.
    */
  private lazy val tokenBpeSql: String = s"""
      ${bpeCtesSql(BPE_MERGES)},
      ws AS (SELECT w,
                    (length(seg) - length(replace(seg, '|', ''))) // 2 AS n_sub
             FROM s$BPE_MERGES),
      tok AS (SELECT doc_id, unnest(${Text.sqlTokens("lower(text)")}) AS w FROM documents),
      agg AS (SELECT t.doc_id, count(1)::BIGINT AS n_words,
                     sum(ws.n_sub)::BIGINT AS n_bpe
              FROM tok t JOIN ws USING (w)
              GROUP BY t.doc_id)
      SELECT d.doc_id,
             coalesce(a.n_words, 0)::BIGINT AS n_words,
             coalesce(a.n_bpe, 0)::BIGINT AS n_bpe
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""

  /** DuckDB subquery yielding the txt_gopher flag columns per doc —
    * shared between the txt_gopher oracle and pipe_modern_curation's.
    */
  private def sqlGopherFlags: String = s"""
      (WITH gt AS (
        SELECT doc_id,
               len(${Text.sqlTokens("text")}) AS n_tokens,
               len(list_filter(${Text.sqlTokens("text")},
                 w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
               coalesce(list_aggregate(list_transform(${Text.sqlTokens("text")},
                 w -> length(w)), 'sum'), 0)::BIGINT AS word_chars,
               len(list_filter(${Text.sqlTokens("text")}, t -> t IN ($stopwordsSql))) AS n_stop
        FROM documents)
      SELECT doc_id, n_tokens, word_chars, n_alpha_words, n_stop,
             (n_tokens BETWEEN 50 AND 100000) AS r_wordcount,
             (word_chars >= n_tokens * 3 AND word_chars <= n_tokens * 10)
               AS r_meanwordlen,
             (n_alpha_words * 5 >= n_tokens * 4) AS r_alphafrac,
             (n_stop >= 2) AS r_stopwords,
             ((n_tokens BETWEEN 50 AND 100000)
              AND (word_chars >= n_tokens * 3 AND word_chars <= n_tokens * 10)
              AND (n_alpha_words * 5 >= n_tokens * 4)
              AND (n_stop >= 2)) AS gopher_pass
      FROM gt)"""

  /** DuckDB subquery yielding (doc_id, n_bigrams, nll_micronat,
    * avg_micronat) — the mirror of [[lmScoreFrom]].
    */
  private def sqlLmScores: String = s"""
      (WITH lt AS (SELECT doc_id, ${Text.sqlTokens("lower(text)")} AS ts FROM documents),
           lbi AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(ts)),
                            i -> ts[i] || ' ' || ts[i+1])) AS bg
                   FROM lt WHERE len(ts) >= 2),
           lc12 AS (SELECT bg, count(1) AS c12 FROM lbi GROUP BY bg),
           luni AS (SELECT w, count(1) AS c1
                    FROM (SELECT unnest(${Text.sqlTokens("lower(text)")}) AS w FROM documents)
                    GROUP BY w),
           lsc0 AS (SELECT doc_id, c1::DOUBLE AS xa, c12::DOUBLE AS xb
                    FROM lbi
                    JOIN lc12 USING (bg)
                    JOIN luni ON string_split(bg, ' ')[1] = w),
           la1 AS (SELECT *, ${graft.functions.DetMath.eSql("xa")} AS ea,
                          ${graft.functions.DetMath.eSql("xb")} AS eb
                   FROM lsc0),
           la2 AS (SELECT *, ${graft.functions.DetMath.ySql("xa", "ea")} AS ya,
                          ${graft.functions.DetMath.ySql("xb", "eb")} AS yb
                   FROM la1),
           la3 AS (SELECT *, ${graft.functions.DetMath.zSql("ya")} AS za,
                          ${graft.functions.DetMath.zSql("yb")} AS zb
                   FROM la2),
           la4 AS (SELECT *, (za * za) AS za2, (zb * zb) AS zb2 FROM la3),
           lsc AS (SELECT doc_id,
                          round((${graft.functions.DetMath
                              .lnSqlFromParts("ea", "za", "za2")}
                            - ${graft.functions.DetMath
                              .lnSqlFromParts("eb", "zb", "zb2")})
                            * 1e6)::BIGINT AS nll
                   FROM la4)
      SELECT doc_id, count(1) AS n_bigrams,
             sum(nll)::BIGINT AS nll_micronat,
             sum(nll)::BIGINT // count(1) AS avg_micronat
      FROM lsc
      GROUP BY doc_id)"""
}
