package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[32] and prints the full per-query JSON
  * line, then a SHORT `"metric":"summary"` line that always fits a
  * capped tail capture (r09's full line outgrew the driver's tail
  * window and the round's totals were unparseable).
  *
  * Execution is a noop-format write: the full physical plan (scan ->
  * transforms -> final agg/sort) runs with zero sink cost, unlike
  * `count()` which lets Catalyst prune most of the plan.
  *
  * `ref_wordcount_12m` reproduces BASELINE.md workload A (12M tokens,
  * 100k distinct words, ~83 MB of text) as an in-memory generated
  * corpus, so the number is directly comparable to the reference's
  * measured 0.67 s (16 threads) / 7.40 s (1 thread).
  */
object Bench {

  /** Representative slice of every module; names match SparkEntry. */
  val headline: Seq[String] = Seq(
    "q1_agg", "q2_filter", "q3_topk_join", "q5_multijoin", "q_outer_join",
    "q_window_rank", "q_topk_per_key", "q_rollup", "q_stats_agg",
    "wordcount", "wordcount_by_lang", "wordcount_salted",
    "txt_token_stats", "txt_tfidf", "txt_quality", "txt_winnow",
    "txt_lm_score",
    "dedup_exact", "dedup_minhash_pairs", "dedup_jaccard_pairs", "dedup_simhash",
    "sim_brute_topk", "sim_ivf_topk",
    "ev_sessionize", "ev_asof_join", "ev_range_join", "ev_sliding",
    "ev_gap_fill", "ev_outliers", "q_median_exact",
    "dedup_contamination", "txt_chunk", "sim_kmeans",
    "q_sql_cte_window",
    "mm_meta", "pipe_dedup_cascade", "ev_stream_state",
    // round 9 additions: nearest as-of, KMV sketch algebra, chained
    // stateful streaming
    "ev_asof_nearest", "q_kmv_setops", "ev_stream_chain", "ev_stream_tws",
    // round 9: one more representative per module family so the
    // per-round JSON tracks their cost too (grouping sets, SCD2,
    // JSON functions, funnel, bucketed-join I/O, exact PPJoin at the
    // gate regime, span dedup, LSH top-k, multimodal dedup + pHash,
    // entropy/Gopher text scoring)
    "q_grouping_sets", "q_scd2", "q_json_funcs", "ev_funnel",
    "io_bucketed_join", "dedup_ppjoin_pairs", "dedup_spans",
    "sim_lsh_topk", "mm_dedup", "mm_phash_pairs", "txt_entropy",
    "txt_gopher",
    // the full training-data pipeline family (the engine's flagship
    // surface): every pipe_* stage tracked per-round
    "pipe_split", "pipe_curation", "pipe_modern_curation",
    "pipe_curriculum", "pipe_mix_weights", "pipe_decontaminate",
    "pipe_cluster_dedup", "pipe_substr_cut", "pipe_training_batches",
    "pipe_upsert", "pipe_cdc_apply", "pipe_cluster_split",
    "pipe_dataset_card",
    // round 10 additions: BM25 retrieval scoring, n-gram novelty
    // (two gram-hash shuffles), edge structural similarity (the
    // adjacency-intersect path)
    "txt_bm25", "txt_ngram_novelty", "graph_edge_jaccard",
    "pipe_sample_weighted",
    // round 11: hybrid BM25 + IVF reciprocal-rank fusion (the RAG /
    // decontamination retrieval composition)
    "txt_hybrid_retrieval",
    // round 14: basket-pair self-join mining (a genuinely new shuffle
    // shape: co-partitioned fact self-join + pair agg) and the
    // one-scan 5-way multi-distinct column profile (Expand-multiplied
    // scan — the audit every ingest runs)
    "q_copurchase_pairs", "pipe_profile",
    // round 14 (cont.): sorted-neighborhood blocking (two rank-window
    // passes + offset equi-join — a pair-generation shape LSH/prefix
    // blocking don't exercise) and the DECIMAL(38) aggregation hot
    // path (Decimal128 sums cost multiples of a long sum; worth its
    // own per-round number)
    "dedup_sorted_neighborhood", "q_decimal_exact",
    // release diff: digest-only full-outer join over the corpus — the
    // one full-outer fact-scale shuffle in the registry; PII scan: the
    // 4-regex + Luhn-HOF codegen scan (per-row regex cost is the real
    // dimension worth tracking at 10x)
    "pipe_dataset_diff", "pipe_pii_scan",
    // round 15: the loaded-index ANN serve path (first rep pays the
    // one-time artifact write, later reps time pure probe cost — the
    // build-once/probe-many split the row exists to expose), and the
    // closed-form Naive-Bayes quality filter (token-class training agg
    // + |vocab| llr join + per-doc re-agg — the model-based filter pass
    // real curation pipelines add on top of the rule gates)
    "sim_index_persist", "txt_nb_quality",
    // round 16: the incremental-append serve path (v1 + v2 posting
    // union against frozen centroids — the daily-ingest ANN shape;
    // first rep pays the one-time v1 build + delta assignment write)
    // and its streaming twin (stream-static broadcast scoring, a
    // microbatch shape nothing else in the sweep exercises)
    "sim_index_append", "sim_stream_ingest",
    // round 17: the persisted-tokenizer serve path (first rep pays the
    // one-time merge-table train, later reps time the loaded-artifact
    // replace-chain application — the build-once/apply-many split on
    // the repo's most expensive trained artifact)
    "txt_bpe_persist")

  /** Registry queries deliberately NOT in the timed sweep, grouped by a
    * one-line reason. Coverage is CLOSED: [[checkSweepCoverage]] (run at
    * sweep start and pinned by QueriesSpec) requires
    * headline ∪ excluded == SparkEntry.queries.keySet with no overlap —
    * so a new registry entry that is neither timed nor excluded-with-
    * reason fails loudly instead of silently shrinking coverage.
    */
  val excluded: Seq[(String, Seq[String])] = Seq(
    "gate-scale twins of scaled_*_x20 rows: the same code paths are timed " +
      "at 20x volume by the scaled probes; at sf0.1 these are sub-second " +
      "I/O-bound rows that track nothing but scan cost" -> Seq(
      "dedup_bloom_contam", "dedup_containment", "dedup_clusters",
      "dedup_embedding_topk", "dedup_fingerprint", "dedup_incremental",
      "dedup_levenshtein", "dedup_minhash_sig", "dedup_pair_degrees",
      "dedup_semantic", "dedup_simhash_pairs", "dedup_stream_probe",
      "dedup_substrings", "dedup_url_canonical", "dedup_weighted_jaccard",
      "dedup_winnow_clusters", "dedup_winnow_pairs", "dedup_wminhash_pairs",
      "dedup_lsh_recall", "pipe_dedup_rate_curve",
      "graph_triangles", "graph_tri_estimate", "sim_knn_graph",
      "sim_pq_topk", "sim_sq_topk", "sim_sparse_pairs"),
    "iterative fixed-round graph loops (PageRank power iteration, " +
      "k-core peel): the per-round agg+join plan is the one timed by " +
      "scaled_cc_x20's CC round loop family; gate-scale graph " +
      "is tiny; LPA's round cost is timed at 20x by scaled_lpa_x20" ->
      Seq("graph_pagerank", "graph_kcore", "graph_coreness", "graph_lpa",
      "graph_bfs", "graph_walks", "graph_cluster_quality",
      "graph_cluster_xquality", "graph_modularity", "graph_harmonic"),
    "map-shaped broadcast-probe scan (documented exact twin of the ANN " +
      "rows); cost is one corpus scan, tracked by sim_brute_topk " +
      "(filtered_topk is the same scan with a label equi-key that only " +
      "SHRINKS the pair work; mmr_rerank adds only constant-size " +
      "shortlist rounds on top of the identical scan; ivf_recall runs " +
      "the ivf + brute twins both already timed, joined on a " +
      "queries-x-k frame; index_compact serves the identical loaded-" +
      "artifact plan sim_index_persist times, minus 10% of rows; " +
      "pq_recall/sq_recall run the pq/sq + brute twins all timed at 20x " +
      "by scaled_{pq,sq}_x20 + the brute scan, joined on a queries-x-k " +
      "frame)" -> Seq(
      "sim_range_search", "sim_filtered_topk", "sim_mmr_rerank",
      "sim_ivf_recall", "sim_pq_recall", "sim_sq_recall",
      "sim_index_compact"),
    "cap-parity probe on a 40-edge synthetic star+clique graph: exists " +
      "to exercise edgeJaccardFrom's capped path against the oracle " +
      "mirror every round; the operator's cost is timed at 20x by " +
      "scaled_ejacc_x20" -> Seq("graph_ejacc_hubcap"),
    "observe()-accumulator metrics demo, shard manifest, PSI drift " +
      "audit: one corpus scan + one hash agg each (drift's windows run " +
      "over <= 17 post-agg rows), scan-bound twins of the timed " +
      "pipe_split shape; embed_drift / embed_drift_v2 / index_stats " +
      "read persisted assignment frames (sim_index_persist / " +
      "sim_index_append already time those serve paths) and window " +
      "over |cells| rows" -> Seq(
      "pipe_observe_metrics", "pipe_shard_manifest", "pipe_drift",
      "pipe_embed_drift", "pipe_embed_drift_v2", "sim_index_stats"),
    "event-time BATCH variants of timed representatives (ev_sessionize / " +
      "ev_asof_join / ev_range_join / ev_sliding / ev_gap_fill / " +
      "ev_outliers / ev_funnel / ev_asof_nearest): same scan + window / " +
      "join shapes, different parameterization" -> Seq(
      "ev_asof_forward", "ev_asof_tolerance", "ev_dwell_hist",
      "ev_interval_join", "ev_markov", "ev_pivot", "ev_pivot_dynamic",
      "ev_seqmatch", "ev_attribution", "ev_rfm", "ev_anomaly_mad",
      "ev_forecast_eval",
      "ev_retention", "ev_session_window", "ev_session_dynamic",
      "ev_topk_users", "ev_tumbling",
      "ev_typed_gaps", "ev_user_stats", "ev_cohort_ltv", "ev_wau"),
    "gate-scale streaming twins: the state-store path is timed at 20x by " +
      "scaled_stream_{window,session,chain,tws}_x20; these replay 100k " +
      "events and track replay-scratch scan cost (enrich is stateless " +
      "broadcast, scan-bound by construction)" -> Seq(
      "ev_stream_dedup", "ev_stream_join", "ev_stream_outer",
      "ev_stream_semi", "ev_stream_full", "ev_stream_union",
      "ev_stream_replay", "ev_stream_session",
      "ev_stream_update", "ev_stream_enrich", "ev_stream_multibatch",
      "ev_stream_late_drop", "ev_stream_file_sink"),
    "I/O write-path roundtrips (timed in SourcesSpec / ZOrderSpec / " +
      "BucketingSpec; the read-side join representative io_bucketed_join " +
      "IS timed): sweep times would measure tmp-dir write throughput" -> Seq(
      "io_codec_roundtrip", "io_csv_roundtrip", "io_json_roundtrip",
      "io_orc_roundtrip", "io_partitioned_prune", "io_schema_merge",
      "io_zorder_box", "io_file_stats", "io_compaction"),
    "multimodal plumbing rows: decode is stubbed per container limits " +
      "(SURVEY mandate), so beyond the timed mm_meta / mm_dedup / " +
      "mm_phash_pairs the rows measure the same digest-shuffle shape" -> Seq(
      "mm_batch_embed", "mm_embed_topk", "mm_features", "mm_frames",
      "mm_kind_stats", "mm_phash", "mm_resize", "mm_scene_cuts"),
    "scalar-function surface checks: constant-size expression coverage " +
      "with no data-scale dimension (q_json_funcs is the timed " +
      "representative)" -> Seq(
      "ev_map_funcs", "q_array_funcs", "q_collation", "q_date_funcs",
      "q_date_funcs2", "q_encode_funcs", "q_math_funcs", "q_scalar_misc",
      "q_serde_funcs", "q_string_funcs", "q_try_funcs", "q_url_funcs",
      "q_variant_json"),
    "sketch/aggregate function rows: per-row update cost is pinned in " +
      "GkSpec / HllSpec / KmvSketchSpec / MisraGriesSpec microbenches; " +
      "q_kmv_setops is the timed representative" -> Seq(
      "q_approx_sketch", "q_cms_freq", "q_gk_quantile", "q_hll_distinct",
      "q_kmv_distinct", "q_udaf_wavg"),
    "aggregation variants of timed q1_agg / q_stats_agg / " +
      "q_grouping_sets: same hash-agg shuffle shape, different function " +
      "list" -> Seq(
      "q_cube", "q_date_agg", "q_distinct_agg", "q_histogram",
      "q_json_agg", "q_minmax_by", "q_misc_aggs", "q_regr_stats",
      "q_skyline", "q_bitwise_agg", "q_grouping_id"),
    "join variants of timed q3_topk_join / q5_multijoin / q_outer_join / " +
      "io_bucketed_join: same shuffle/broadcast shapes" -> Seq(
      "q_anti_join", "q_dpp", "q_salted_join", "q_semi_join"),
    "window-function variants of timed q_window_rank / q_topk_per_key: " +
      "same partitioned-sort shape, different frame/function" -> Seq(
      "q_window_dist", "q_window_lag", "q_window_nav", "q_window_range",
      "q_window_running", "q_window_ignore_nulls"),
    "SQL front-end variants of timed q_sql_cte_window: parser/analyzer " +
      "surface, same execution shapes as their DataFrame twins" -> Seq(
      "q_sql_join_agg", "q_sql_lateral", "q_sql_not_in_nulls",
      "q_sql_pipe", "q_sql_recursive", "q_sql_revenue",
      "q_sql_string_agg", "q_sql_group_by_all", "q_sql_named_window",
      "q_sql_pivot"),
    "tiny-shape rows (sampling, set ops, subqueries, unpivot, null " +
      "ordering, limits): sub-second scan-bound at every SF; q_topk " +
      "doubles as the sweep's warmup query" -> Seq(
      "q_correlated_scalar", "q_null_order", "q_sample",
      "q_sample_stratified", "q_scalar_subquery", "q_setops",
      "q_setops_all", "q_topk", "q_unpivot"),
    "text-analysis variants of timed txt_token_stats / txt_tfidf / " +
      "txt_quality / txt_winnow / txt_lm_score / txt_entropy / " +
      "txt_gopher: same fused-generator scan shape; BPE is timed by the " +
      "scaled_bpe rows" -> Seq(
      "txt_bigrams", "txt_bpe_merges", "txt_bpe_stats", "txt_code_detect",
      "txt_dup_ngrams", "txt_fingerprint",
      "txt_heavy_hitters", "txt_lang_id", "txt_length_hist", "txt_pack",
      "txt_pmi", "txt_rake", "txt_redact", "txt_repetition",
      "txt_rolling_hash", "txt_token_bpe", "txt_token_estimate",
      "txt_unicode_norm"),
    "sorted-limit tail of the timed wordcount plan" -> Seq("wordcount_topk"),
    "persisted-PQ twin: the serve path is the identical ADC scan timed " +
      "at 20x by scaled_pq_x20, and the one-time build write is scratch " +
      "I/O (the io_* roundtrip argument); the loaded-IVF serve path IS " +
      "timed via sim_index_persist" -> Seq("sim_pq_persist"))

  /** Fails unless headline ∪ excluded == the registry, with no overlap
    * and no duplicates. Returns (timed, excluded) counts for the sweep
    * banner. */
  def checkSweepCoverage(): (Int, Int) = {
    val ex = excluded.flatMap(_._2)
    require(ex.distinct.size == ex.size,
      "bench exclusion list has duplicates: " +
        ex.diff(ex.distinct).distinct.mkString(", "))
    val reg = SparkEntry.queries.keySet
    val timed = headline.toSet
    val overlap = timed.intersect(ex.toSet)
    require(overlap.isEmpty, s"both timed and excluded: ${overlap.mkString(", ")}")
    val unaccounted = reg -- timed -- ex
    require(unaccounted.isEmpty,
      "registry queries neither timed nor excluded-with-reason: " +
        unaccounted.toSeq.sorted.mkString(", "))
    val stale = (timed ++ ex) -- reg
    require(stale.isEmpty,
      s"sweep lists name unknown queries: ${stale.toSeq.sorted.mkString(", ")}")
    (headline.size, ex.size)
  }

  /** BASELINE.md workload A equivalent: 1.2M lines x 10 words from a
    * 100k vocabulary (~83 MB text). Generated ONCE to a scratch dir
    * (untimed) so the timed query is exactly the reference's job:
    * read text file -> tokenize -> count -> sort.
    */
  def prepareRefCorpus(spark: SparkSession): String = prepareRefCorpus(spark, "w")

  /** `prefix` selects a disjoint vocabulary ("w…" is the canonical
    * workload-A corpus; "y…"/"z…" are its statistical twins — same byte
    * volume, line count, vocabulary cardinality, partition fan-out, but
    * not one byte in common). The cold measurement times the FIRST run
    * over each twin: three independent fresh-data attempts whose min a
    * single outside-load spike can't quadruple (the r09 failure mode:
    * cold was one exposed first-rep). "x…" is reserved for the untimed
    * full-size warm corpus.
    */
  def prepareRefCorpus(spark: SparkSession, prefix: String): String = {
    require(prefix != "x", "x is the warm-corpus vocabulary")
    val path = "target/bench_scratch/ref_corpus_12m" +
      (if (prefix == "w") "" else s"_$prefix")
    if (!new java.io.File(path).exists()) {
      val words = (0 until 10).map(i =>
        concat(lit(prefix), pmod(hash(col("id") * 10 + i), lit(100000))))
      spark.range(0, 1200000L, 1, 32)
        .select(concat_ws(" ", words: _*).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** The engine's file-wordcount surface (what WordCountCli runs):
    * ChunkedTextSource chunk rows -> fused FSM -> merge -> sort. The
    * chunk read model is ~1.5x faster than spark.read.text here — the
    * line reader produces 1.2M line rows through eval + byte copy,
    * where the chunk source hands the FSM ~32 whole buffers (the
    * reference reads the same way: one buffer, byte ranges).
    */
  def refWordcount12m(spark: SparkSession, path: String): DataFrame =
    graft.operators.WordCount.fromFile(spark, path)

  /** BASELINE.md workload B equivalent: ~2M tokens from a 24-word
    * vocabulary with mixed separators (~12 MB). The extreme-skew
    * counterpoint to workload A: map-side partial aggregation collapses
    * every partition to <= 24 rows, so the shuffle is O(partitions),
    * not O(tokens) — the case the reference's 5000-bucket shared map
    * handles with ~20-deep chains and mutex contention.
    */
  def prepareRefCorpusB(spark: SparkSession): String = {
    val path = "target/bench_scratch/ref_corpus_2m"
    if (!new java.io.File(path).exists()) {
      val vocab = array((0 until 24).map(i => lit(s"word$i")): _*)
      val seps = array(lit(" "), lit("  "), lit("\t"), lit(", "), lit(". "))
      val pieces = (0 until 10).flatMap { i =>
        val w = element_at(vocab, pmod(hash(col("id") * 10 + i), lit(24)) + 1)
        val sp = element_at(seps, pmod(hash(col("id") * 10 + i, lit(7)), lit(5)) + 1)
        Seq(w, sp)
      }
      spark.range(0, 200000L, 1, 32)
        .select(concat(pieces: _*).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** Re-time the REFERENCE C BINARY on the CURRENT box over the same
    * corpora the engine's headline rows read (r16, after the r15
    * verdict's unexplained wc12m/skew/cc drift): BASELINE.md's numbers
    * were measured on the 2026-08-12 survey host, and the host has
    * since CHANGED (cpuinfo model 2.10 -> 2.60 GHz; measured r16: the
    * C binary's memory-bound workload A runs 2.08x slower at 1 thread
    * and 1.32x slower at 16 threads than BASELINE.md records, while
    * the cache-resident workload B is unchanged). A per-round live C
    * number makes the vs-baseline ratio apples-to-apples on whatever
    * box the sweep actually ran on. Builds with the reference's own
    * Makefile (timing an EXECUTION of the public reference — no code
    * is copied); any failure degrades to NaN, never fails the sweep.
    *
    * @return (workload A min-of-3 at 16 threads,
    *          workload B min-of-5 at 1 thread — BASELINE.md's configs)
    */
  /** Fingerprint of a file tree (sorted names + sizes + mtimes,
    * recursive) — the [[srcSig]] discipline for NON-parquet inputs:
    * keys the compiled reference binary on /root/reference's current
    * bytes and each concat file on its corpus dir (r16 ADVICE: the old
    * bare-existence caches would silently re-time stale artifacts as
    * the live C baseline if either changed between rounds).
    */
  private def dirSig(dir: java.io.File): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val parts = walk(dir).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
    java.lang.Long.toHexString(parts.mkString("|").hashCode.toLong & 0xffffffffL)
  }

  // set by timeRefC for timeRefCMidSweep (same binary + concat, so the
  // mid-sweep sample can never race a key change within one sweep)
  @volatile private var refCBin: java.io.File = null
  @volatile private var refCConcatA: java.io.File = null

  private def timeRefC(aDir: String, bDir: String): (Double, Double) = try {
    def exec(cmd: String*): Unit = {
      val p = new ProcessBuilder(cmd: _*)
        .redirectOutput(new java.io.File("/dev/null"))
        .redirectErrorStream(false).start()
      require(p.waitFor() == 0, s"${cmd.head} exited nonzero")
    }
    val build = new java.io.File("target/bench_scratch/refbuild")
    val bin = new java.io.File(build,
      s"mapred_woc_${dirSig(new java.io.File("/root/reference"))}")
    if (!bin.exists()) {
      exec("rm", "-rf", build.getPath) // drop stale-sig binaries too
      build.mkdirs()
      // Build OUTSIDE the repo tree (r16 ADVICE, medium): no reference
      // SOURCE may live inside the repo even transiently — the old
      // in-tree copy + post-make strip left the sources behind
      // whenever make failed (the catch-all swallowed it). A /tmp
      // build dir removed in finally cannot, whatever make does; only
      // the compiled binary crosses into target/.
      val tmp = java.nio.file.Files.createTempDirectory("graft_refbuild")
        .toFile
      try {
        val src = new java.io.File(tmp, "ref")
        exec("cp", "-r", "/root/reference", src.getPath)
        exec("make", "-C", src.getPath)
        java.nio.file.Files.copy(
          new java.io.File(src, "mapred_woc").toPath, bin.toPath)
        bin.setExecutable(true)
      } finally exec("rm", "-rf", tmp.getPath)
    }
    // the binary reads ONE file; the engine corpora are 32-part dirs —
    // concatenate once per corpus fingerprint (same bytes, part order
    // is the deterministic part-file order both engines enumerate)
    def concat(dir: String, label: String): java.io.File = {
      val f = new java.io.File("target/bench_scratch/" +
        s"ref${label}_concat_${dirSig(new java.io.File(dir))}.txt")
      if (!f.exists()) {
        val os = new java.io.FileOutputStream(f)
        try new java.io.File(dir).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
          .foreach(p => java.nio.file.Files.copy(p.toPath, os))
        finally os.close()
      }
      f
    }
    val aF = concat(aDir, "A")
    val bF = concat(bDir, "B")
    refCBin = bin
    refCConcatA = aF
    def run1(file: String, threads: Int): Double = {
      val t0 = System.nanoTime()
      exec(bin.getAbsolutePath, file, threads.toString)
      (System.nanoTime() - t0) / 1e9
    }
    val a = (1 to 3).map(_ => run1(aF.getPath, 16)).min
    val b = (1 to 5).map(_ => run1(bF.getPath, 1)).min
    System.err.println(f"[bench] live C reference on this box: " +
      f"A@16=$a%.3f s (BASELINE.md 0.67) B@1=$b%.3f s (BASELINE.md 0.108)")
    (a, b)
  } catch {
    case e: Throwable =>
      System.err.println(s"[bench] C re-time skipped: ${e.getMessage}")
      (Double.NaN, Double.NaN)
  }

  /** A second A@16 sample of the C binary, taken MID-SWEEP (after the
    * headline engine rows, 90 GiB of JVM heap resident): the r16 A/B
    * showed the same binary on the same corpus at 0.886 s standalone
    * vs 2.043 s next to the loaded JVM — the box-state spread itself.
    * Reporting both keeps the engine-vs-C ratio honest in either
    * direction: the EARLY number (timeRefC, clean JVM) is the
    * conservative denominator, this one shows the conditions the
    * engine's own rows actually run under.
    */
  private def timeRefCMidSweep(aDir: String): Double = try {
    val bin = refCBin
    val aF = refCConcatA
    if (bin == null || aF == null || !bin.exists() || !aF.exists())
      return Double.NaN
    def run1(): Double = {
      val t0 = System.nanoTime()
      val p = new ProcessBuilder(bin.getAbsolutePath, aF.getPath, "16")
        .redirectOutput(new java.io.File("/dev/null")).start()
      require(p.waitFor() == 0, "mapred_woc exited nonzero")
      (System.nanoTime() - t0) / 1e9
    }
    val a = (1 to 3).map(_ => run1()).min
    System.err.println(f"[bench] live C reference MID-SWEEP: A@16=$a%.3f s")
    a
  } catch { case _: Throwable => Double.NaN }

  /** Cache key component for scratch corpora derived from a testdata
    * table: file sizes + mtimes of the source parquet. The driver
    * REGENERATES /root/testdata between rounds (observed twice, with
    * changed encodings and duplicate structure) — a path keyed only by
    * SF dir would silently replay a stale corpus against new-testdata
    * expectations. Shared with the queries-side writeOnce artifacts
    * (sim_index_persist / sim_pq_persist key through it too).
    */
  private def srcSig(sfDir: String, table: String): String =
    graft.queries.Io.srcSig(sfDir, table)

  /** Scaled dedup corpus: documents x20 (even replicas exact copies,
    * odd replicas near-dups with one appended token) — at sf0.1 that's
    * 100k docs / ~20M shingles, a real workout for the MinHash+LSH
    * path, whose input table is otherwise tiny at test SFs. Written
    * once (untimed); the timed query reads parquet like production.
    */
  def prepareScaledDocs(spark: SparkSession, sfDir: String,
      factor: Int = 20): String = {
    require(1 <= factor && factor <= 100, "rep packs into doc_id * 100")
    // corpus content depends on the SF dir AND the testdata generation
    val path = s"target/bench_scratch/docs_x${factor}_" +
      new java.io.File(sfDir).getName + "_" + srcSig(sfDir, "documents")
    if (!new java.io.File(path).exists()) {
      graft.Tables.documents(spark, sfDir)
        .select(explode(sequence(lit(0), lit(factor - 1))).as("rep"),
          col("doc_id"), col("text"))
        .select((col("doc_id") * 100 + col("rep")).as("doc_id"),
          when(col("rep") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" rep"),
              col("rep").cast("string"))).as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Scaled embedding corpus: embeddings x20 with distinct vec_ids
    * (orig*100 + rep). Rep 0 keeps the exact vector; reps 1-19 get a
    * deterministic per-component jitter of up to ±0.01 (vs unit-norm
    * vectors whose max NATURAL pairwise cosine is ~0.40), so every
    * original gains 19 planted near-neighbors at cos ~0.999 with
    * DISTINCT scores. That makes the x20 corpus an honest recall
    * workload — a rep-0 query's true top-10 is its jittered siblings,
    * which an index must actually bucket together to recover — while
    * keeping the index-build cost profile of a 20x corpus. 40k vectors
    * at sf0.1 (x100 -> 200k for the survives-100x probes).
    */
  def prepareScaledEmb(spark: SparkSession, sfDir: String,
      factor: Int = 20): String = {
    require(1 <= factor && factor <= 100, "rep packs into vec_id * 100")
    val path = s"target/bench_scratch/emb_x${factor}j_" +
      new java.io.File(sfDir).getName + "_" + srcSig(sfDir, "embeddings")
    if (!new java.io.File(path).exists()) {
      graft.Tables.embeddings(spark, sfDir)
        .select(explode(sequence(lit(0), lit(factor - 1))).as("rep"),
          col("vec_id"), col("label"), col("embedding"))
        .select((col("vec_id") * 100 + col("rep")).as("vec_id"),
          col("label"), col("rep"), col("embedding"))
        .select(col("vec_id"), col("label"),
          when(col("rep") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) => x +
              ((pmod(hash(col("vec_id"), i), lit(2001)) - 1000)
                .cast("double") / 100000.0).cast("float")))
            .as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The near-dup pair graph (a_id, b_id) of a docs corpus: the unordered
    * MinHash pairs every scaled graph workload runs over.
    */
  def pairGraph(docs: DataFrame): DataFrame =
    graft.queries.Dedup.minhashPairsFrom(docs, ordered = false)
      .select("a_id", "b_id")

  /** Tiny warm corpus (1/16 of workload A, 8 partitions): exercises
    * the COLLAPSED small-input plan shape — the one workload B's 12 MB
    * corpus runs — during the untimed warmup.
    */
  def prepareWarmCorpus(spark: SparkSession): String = {
    val path = "target/bench_scratch/ref_corpus_warm"
    if (!new java.io.File(path).exists()) {
      val words = (0 until 10).map(i =>
        concat(lit("w"), pmod(hash(col("id") * 10 + i), lit(100000))))
      spark.range(0, 75000L, 1, 8)
        .select(concat_ws(" ", words: _*).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** FULL-SIZE warm corpus with a DISJOINT vocabulary ("x…" words, the
    * timed corpora use "w…"): same byte volume, line count, partition
    * fan-out, vocabulary cardinality, and plan shape as workload A —
    * but not one byte of the timed data. Warming on it brings every
    * data-scale cost forward untimed (full-size per-task token
    * maps/arenas, allocation-GC state, full-sized shuffle writes, C2
    * at real trip counts) while the first timed run still reads data
    * the process has NEVER seen. Stage telemetry of the first run after
    * [[warmUp]] (BenchProbe `ref_wordcount_12m` with
    * SPARK_GRAFT_STAGES=1) attributed ~0.35 s of the ~0.5 s
    * cold-vs-steady gap to exactly these first-full-scale-run costs.
    */
  def prepareWarmCorpusFull(spark: SparkSession): String = {
    val path = "target/bench_scratch/ref_corpus_warmfull"
    if (!new java.io.File(path).exists()) {
      val words = (0 until 10).map(i =>
        concat(lit("x"), pmod(hash(col("id") * 10 + i), lit(100000))))
      spark.range(0, 1200000L, 1, 32)
        .select(concat_ws(" ", words: _*).as("value"))
        .write.mode("overwrite").text(path)
    }
    path
  }

  /** Untimed sequential read of every file under `dir` — brings the
    * corpus into the OS page cache before the timed run. Fair vs
    * BASELINE.md: the C binary's numbers come from repeated runs over
    * the same (cached) file, so its measured walls never include a
    * first-read from disk either.
    */
  def pageTouch(dir: String): Unit = {
    val d = new java.io.File(dir)
    val fs = if (d.isDirectory)
      Option(d.listFiles()).getOrElse(Array.empty).filter(_.isFile)
    else Array(d)
    val buf = new Array[Byte](1 << 20)
    fs.foreach { f =>
      val in = new java.io.FileInputStream(f)
      try { while (in.read(buf) > 0) () } finally in.close()
    }
  }

  /** Scaled events corpus: events x20 with user_ids remapped to
    * user_id*100 + rep — per-user event sequences (and so sessions,
    * state machines, watermark behavior) are preserved exactly while
    * key cardinality and row volume scale 20x (2M events / 30k users
    * at sf0.1; x100 -> 10M events / 150k users). Written once
    * (untimed) as the micros-normalized schema a schema-pinned file
    * stream can replay.
    */
  def prepareScaledEvents(spark: SparkSession, sfDir: String,
      factor: Int = 20): String = {
    require(1 <= factor && factor <= 100, "rep packs into user_id * 100")
    val path = s"target/bench_scratch/events_x${factor}_" +
      new java.io.File(sfDir).getName + "_" + srcSig(sfDir, "events")
    if (!new java.io.File(path).exists()) {
      graft.Tables.events(spark, sfDir)
        .select(explode(sequence(lit(0), lit(factor - 1))).as("rep"), col("*"))
        .withColumn("user_id", col("user_id") * 100 + col("rep"))
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Scaled-probe query set over [[prepareScaledEmb]]'s jittered x20
    * corpus: rep 0 (the exact original vector) of the first 20
    * originals — 20 DISTINCT probes whose true top-10 is dominated by
    * their 19 planted jittered siblings.
    */
  val scaledEmbQueryPred: org.apache.spark.sql.Column =
    col("vec_id") % 100 === 0 && col("vec_id") < 2000

  private def runOnce(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  val noRelease: () => Unit = () => ()

  /** A workload as its untimed prepare step hands it to the timer. Each
    * `run()` executes the workload once and returns that run's release
    * hook ([[noRelease]] when the run pins nothing); `plan` builds the
    * frame a run executes, for plan printing (None for a driver loop or
    * a printed diagnostic); `done` frees what prepare pinned, once the
    * last run is over.
    */
  final case class Job(run: () => (() => Unit),
      plan: Option[() => DataFrame] = None, done: () => Unit = noRelease)

  /** One named workload. `prepare(spark, sfDir, factor)` writes its
    * corpus at scale `factor` (once per source fingerprint) or finds it,
    * and returns the [[Job]] that `reps` timed runs execute.
    */
  final case class Workload(name: String, reps: Int,
      prepare: (SparkSession, String, Int) => Job)

  /** Each run builds `mk`'s frame, executes it into the noop sink, and
    * then releases what building it pinned. */
  def releasableJob(mk: () => (DataFrame, () => Unit)): Job =
    Job(() => { val (df, release) = mk(); runOnce(df); release },
      Some(() => mk()._1))

  def frameJob(mk: => DataFrame): Job = releasableJob(() => (mk, noRelease))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Times `reps` runs of `job` with `time`, calls each run's release
    * hook once its timing has ended, then `job.done`. The per-run
    * seconds, in run order.
    */
  def measure(job: Job, reps: Int)(time: (=> Unit) => Double): Seq[Double] =
    try (1 to reps).map { _ =>
      var release = noRelease
      val t = time { release = job.run() }
      release()
      t
    } finally job.done()

  private def docsRow(name: String, reps: Int)(
      mk: DataFrame => DataFrame): Workload =
    Workload(name, reps, (s, d, f) => {
      val p = prepareScaledDocs(s, d, f)
      frameJob(mk(s.read.parquet(p)))
    })

  private def embRow(name: String, reps: Int)(
      mk: DataFrame => DataFrame): Workload =
    Workload(name, reps, (s, d, f) => {
      val p = prepareScaledEmb(s, d, f)
      frameJob(mk(s.read.parquet(p)))
    })

  /** A graph operator over [[pairGraph]] of the docs corpus; `op`
    * returns its result and the hook releasing what it pinned. */
  private def pairsRow(name: String)(
      op: DataFrame => (DataFrame, () => Unit)): Workload =
    Workload(name, 2, (s, d, f) => {
      val p = prepareScaledDocs(s, d, f)
      releasableJob(() => op(pairGraph(s.read.parquet(p))))
    })

  /** A stream replay over the events corpus. A replay returns a
    * checkpointed frame (the sink view is dropped inside it), released
    * after each run so ~1.9M session rows per run don't accumulate.
    */
  private def streamRow(name: String)(replay: (SparkSession,
      org.apache.spark.sql.types.StructType, String) => DataFrame): Workload =
    Workload(name, 2, (s, d, f) => {
      val p = prepareScaledEvents(s, d, f)
      val schema = s.read.parquet(p).schema
      releasableJob(() => {
        val df = replay(s, schema, p)
        (df, graft.plans.RoundLoop.releaser(df))
      })
    })

  /** 200 BPE merges trained off a word-frequency table that prepare
    * builds and checkpoints (untimed: production trains many merge
    * schedules off one persisted word table). */
  private def bpeRow(name: String, reps: Int, textCol: String)(
      corpus: (SparkSession, String, Int) => DataFrame): Workload =
    Workload(name, reps, (s, d, f) => {
      val words = corpus(s, d, f)
        .select(graft.functions.TokenizeExplode
          .tokenize(s, lower(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      Job(() => {
        graft.queries.TextAnalysis.bpeTrainRounds(words, 200)
        noRelease
      }, done = graft.plans.RoundLoop.releaser(words))
    })

  /** The scaled workloads, in sweep order, each with its rep count: the
    * sweep runs every row at factor 20 and reports its min (and its
    * first run in the cold total); BenchProbe runs one row at factor 20,
    * or at 100 under its `_x100` name.
    *
    * They run before the headline queries: they are the biggest
    * allocators, i.e. the entries most sensitive to accumulated heap
    * state. Min of 3: at steady state each rep is seconds, and a single
    * outside-load spike can no longer spoil the reported minimum
    * (observed once: a transient tripled one rep of the CC loop, whose
    * per-round barriers are the most load-sensitive shape here; its
    * first run also pays Janino compiles for every per-round plan).
    */
  val scaled: Seq[Workload] = {
    import graft.queries.{Dedup, EventsTime, Similarity}
    Seq(
      docsRow("scaled_minhash_x20", 3)(Dedup.minhashPairsFrom(_, ordered = false)),
      docsRow("scaled_cc_x20", 3)(Dedup.clustersFrom(_, ordered = false)),
      // decontamination at x20: the shingle join against a 1-in-50
      // benchmark slice, 100k docs / ~20M shingles
      docsRow("scaled_contam_x20", 3)(docs => Dedup.contaminationFrom(
        docs, docs.filter(col("doc_id") % 50 === 0))),
      // the same decontamination behind the Bloom semi-join pushdown:
      // corpus shingles that miss the one-row broadcast bitset never
      // reach the exact join
      docsRow("scaled_bloom_x20", 3)(docs => Dedup.bloomContaminationFrom(
        docs, docs.filter(col("doc_id") % 50 === 0))),
      // sparse-hit decontamination: bench slice = 1/200 of the corpus, so
      // only ~10% of corpus docs share shingles with it — the regime the
      // bloom pushdown is FOR (the dense pair above, where every doc is a
      // near-dup of a bench doc, shows its overhead bound instead: ~100%
      // of shingles pass the filter and the exact join does full work)
      docsRow("scaled_contam_sparse_x20", 3)(docs => Dedup.contaminationFrom(
        docs, docs.filter(col("doc_id") % 1000 === 0))),
      docsRow("scaled_bloom_sparse_x20", 3)(docs =>
        Dedup.bloomContaminationFrom(
          docs, docs.filter(col("doc_id") % 1000 === 0))),
      // context-window chunking at x20: pure generator throughput over
      // ~20M tokens (map-only, no shuffle)
      docsRow("scaled_chunk_x20", 3)(docs => docs.select(col("doc_id"),
        graft.functions.ChunkExplode.chunks(docs.sparkSession, col("text"), 64, 48)
          .as(Seq("chunk_idx", "chunk", "n_tokens")))),
      // winnowing fingerprints at x20: WinnowExplode generator throughput
      // (byte scan + window fold per doc, ~45 fps/doc emitted)
      docsRow("scaled_winnow_x20", 3)(graft.queries.TextAnalysis.winnowFrom),
      // EXACT similarity join at x20, in its production regime (t=0.9,
      // 5-gram shingles — see ppjoinPairsFrom on saturated shingle
      // spaces): prefix + length filtering must keep candidates bounded
      // on a corpus that is one giant pile of 20-member dup cliques
      docsRow("scaled_ppjoin_x20", 3)(
        Dedup.ppjoinPairsFrom(_, tNum = 9, tDen = 10, shingleN = 5)),
      // sorted-neighborhood blocking at x20: two partition-parallel rank
      // windows + the offset equi-join + exact verification over 100k
      // docs — the pair-generation shape the LSH/prefix rows don't time
      docsRow("scaled_snm_x20", 3)(Dedup.sortedNeighborhoodPairsFrom(_)),
      // inverted-index sparse cosine at x20: df cap bounds every posting
      // bucket even when replication inflates every term's frequency
      docsRow("scaled_sparse_x20", 3)(Similarity.sparseCosinePairsFrom(_)),
      // incremental ingest at x20: doc_id % 50 == 0 picks exactly rep 0
      // of every 20-replica pack = a 5% new batch vs the 95% index —
      // cost must track the BATCH, not the corpus
      docsRow("scaled_inc_x20", 3)(docs => Dedup.incrementalPairsFrom(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))),
      // exact-substring span dedup at x20 (~20M token positions through
      // the rolling-fingerprint pass; the 20-replica packs make nearly
      // every window a duplicate — worst case for the verify stage)
      docsRow("scaled_substr_x20", 3)(
        Dedup.duplicatedSpansFrom(_, Dedup.SUBSTR_L)),
      // ANN at x20 (40k vectors, 20 distinct probes, planted jittered
      // near-dup cliques — see prepareScaledEmb): IVF = index assignment
      // + nprobe-pruned scan; PQ = full subspace-k-means index build +
      // ADC shortlist + exact re-rank, the build dominating by design
      // (production amortizes it across queries; timing it keeps the
      // whole cost honest). Recall@10 >= 0.9 vs brute force at this exact
      // regime is gated in AnnRecallSpec.
      embRow("scaled_ivf_x20", 3)(e => Similarity.ivfTopkFrom(e.sparkSession,
        e, scaledEmbQueryPred, topK = 10)),
      embRow("scaled_pq_x20", 2)(
        Similarity.pqTopkFrom(_, scaledEmbQueryPred, topK = 10)),
      embRow("scaled_sq_x20", 2)(
        Similarity.sqTopkFrom(_, scaledEmbQueryPred, topK = 10)),
      // Structured Streaming at x20 (2M events / 30k users replayed via
      // AvailableNow): exercises the real state-store path — watermark
      // advance, window eviction, merging session state — at 20x the
      // gate's volume, not just the logical plan.
      streamRow("scaled_stream_window_x20")(EventsTime.windowedReplayOn),
      streamRow("scaled_stream_session_x20")(EventsTime.sessionReplayOn),
      // chained stateful (dedup -> window agg) and transformWithState
      // (typed state in RocksDB) at the same 20x volume: state for BOTH
      // operators of the chain, and the RocksDB column-family path, under
      // real data pressure rather than the sf0.1 gate's 100k events
      streamRow("scaled_stream_chain_x20")(EventsTime.chainReplayOn),
      streamRow("scaled_stream_tws_x20")(EventsTime.twsReplayOn),
      // BPE training at x20, driven to the 31-word-vocab corpus's merge
      // EXHAUSTION (~100 merges in ~64 batched driver rounds): times the
      // distributed pair-count + batched-merge loop per round. The
      // deep-merge regime is scaled_bpe_deep200 below.
      bpeRow("scaled_bpe_x20", 2, "text")(
        (s, d, f) => s.read.parquet(prepareScaledDocs(s, d, f))),
      // SimHash Hamming-LSH pairs at x20: the sf0.1 gate query times
      // signatures only; this runs the banded pair join + popcount gate
      // over 100k docs
      docsRow("scaled_simhash_x20", 3)(docs =>
        Dedup.simhashPairsFrom(docs.sparkSession, docs, ordered = false)),
      // SemDeDup at x20 (flagship semantic-dedup shape): k = sqrt(n)
      // Lloyd centroids through the array-form assign, intra-cluster
      // pairs only — the O(n^1.5) pair-work bound, timed per-round
      embRow("scaled_semantic_x20", 2)(e =>
        Similarity.semanticDedupFrom(e.sparkSession, e)),
      // k-NN graph at x20 (40k vectors, k = floor(sqrt(n)) = 200 Lloyd
      // clusters, exact top-k within cluster): the partitioned O(n^1.5)
      // build timed at 20x the gate's corpus; the BenchProbe diagnostic
      // `scaledknng` additionally ASSERTS the scored-pair bound from the
      // actual cluster sizes.
      embRow("scaled_knng_x20", 2)(e => Similarity.knnGraphFrom(e.sparkSession, e)),
      // Graph operators over the x20 near-dup pair graph — the 20-replica
      // packs plus the corpus's natural dup families make it one pile of
      // dense communities (maxDeg ~358, ~264M oriented wedges), the worst
      // case the degree-ordered triangle orientation exists for; the
      // BenchProbe diagnostic `scaledtribound` asserts the oriented wedge
      // count stays at the clique-math 3x under the naive sum-of-deg^2
      // stream. All are min-of-2 (r14 verdict #3): these are exactly the
      // rows box load swings ~2x (README A/B: tri 16.5<->30.1 s, lpa
      // 11.1<->21.6 s tracking tel loads 15-26), so a single attempt can
      // fake a round-over-round regression. The releasable operators
      // (r17 ADVICE) free their pinned pairs/deg/adj checkpoints after
      // each run instead of stacking them for the rest of the sweep.
      pairsRow("scaled_tri_x20")(Dedup.trianglesFromPairsReleasable),
      pairsRow("scaled_ejacc_x20")(Dedup.edgeJaccardFromReleasable(_)),
      pairsRow("scaled_kcore_x20")(p =>
        (Dedup.kcoreFromPairs(p, k = 3, rounds = 8), noRelease)),
      pairsRow("scaled_coreness_x20")(p =>
        (Dedup.corenessFromPairs(p), noRelease)),
      pairsRow("scaled_lpa_x20")(p => (Dedup.lpaFromPairs(p), noRelease)),
      // DEEP-merge BPE regime: 200 merges on the 100k-vocabulary
      // workload-A corpus — the wide-vocabulary regime a real tokenizer
      // trains on, where batched non-interfering selection must keep
      // driver rounds sublinear in merges. One rep: the loop is
      // driver-round-bound (~100 distributed jobs), not JIT-bound, so a
      // second rep would double sweep cost to confirm what
      // round-over-round JSONs already track.
      bpeRow("scaled_bpe_deep200", 1, "value")(
        (s, _, _) => s.read.text(prepareRefCorpus(s))))
  }

  /** The untimed warm-up before the reference rows. A cheap query warms
    * the JVM/codegen paths; then the reference word count runs on a
    * 1/16-size corpus: Janino compiles the generated sort classes and C2
    * promotes the byte-FSM hot loops here, so the first timed run pays
    * data-scale costs only — the C baseline's "cold" run doesn't include
    * compiling the binary either. Two reps: the second triggers C2 on
    * the loops the first only profiled. The small corpus is under the
    * tiny-input threshold, so it warms the collapsed tiny plan; the
    * full-size warm on the disjoint-vocabulary twin corpus (see
    * prepareWarmCorpusFull) then runs the distributed shape that the
    * 83 MB workload-A corpus takes (TokenCounts -> hash exchange ->
    * TokenCountsMerge -> single-partition sort), so its classes and
    * data-scale JIT/arena/shuffle costs land here, untimed, while the
    * timed corpus itself stays unseen.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    runOnce(SparkEntry.queries("q_topk")(spark, sfDir))
    val warmPath = prepareWarmCorpus(spark)
    (1 to 2).foreach(_ => runOnce(refWordcount12m(spark, warmPath)))
    val warmFullPath = prepareWarmCorpusFull(spark)
    (1 to 2).foreach(_ => runOnce(refWordcount12m(spark, warmFullPath)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()

    val (nTimed, nExcl) = checkSweepCoverage()
    System.err.println(s"[bench] sweep coverage: timed=$nTimed " +
      s"excluded=$nExcl registry=${SparkEntry.queries.size} " +
      "(exclusion reasons live in Bench.excluded)")

    // Per-stage telemetry: 1-min system load + used heap, snapped at
    // each workload's FIRST timed attempt. The box is shared, and one
    // whole-sweep load_avg hides spikes (r09's cold-run controversy was
    // exactly this failure mode) — stage-local samples make a noisy
    // stage distinguishable from a regression in the artifact itself.
    val stageTel =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    def loadNow: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def snap(stage: String): Unit = {
      val rt = Runtime.getRuntime
      stageTel(stage) = (loadNow, (rt.totalMemory - rt.freeMemory) >> 20)
    }

    // 1-minute system load at sweep start, next to the end-of-sweep
    // load_avg: a sweep that began on a loaded box reads as such
    val loadAvgStart = loadNow
    val refPath = prepareRefCorpus(spark)
    // Re-time the C binary FIRST, while the JVM heap is still small —
    // the r16 A/B measured the same binary at 0.886 s standalone vs
    // 2.043 s next to the fully-grown 90 GiB heap, so a mid-sweep-only
    // sample would flatter the engine ratio. This early number is the
    // conservative denominator; timeRefCMidSweep adds the contrast
    // sample after the engine's own headline rows.
    val (refCLiveA, refCLiveB) = timeRefC(refPath, prepareRefCorpusB(spark))
    warmUp(spark, sfDir)
    // the C baseline's walls are repeated-run (cached-file) numbers, so
    // the timed corpora are touched into the page cache too
    pageTouch(refPath)

    val toRun: Seq[(String, () => DataFrame)] =
      headline.filter(SparkEntry.queries.contains)
        .map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir)))

    // A failed query must never masquerade as a fast one: its name lands
    // in `failed` (reported in the JSON line + nonzero exit code), and
    // its value is NaN -> printed as null and EXCLUDED from totals, so
    // the headline total never counts an exception-throw time as work.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    headline.filterNot(SparkEntry.queries.contains).foreach { n =>
      failed += n
      System.err.println(s"[bench] $n missing from SparkEntry.queries")
    }
    def timeOne(name: String, mk: () => DataFrame): Double =
      timeThunk(name)(runOnce(mk()))
    def timeThunk(name: String)(body: => Unit): Double = {
      if (!stageTel.contains(name)) snap(name) // load+heap at first attempt
      val t0 = System.nanoTime()
      try {
        body
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Double.NaN
      }
    }

    // The reference-parity throughput workloads run FIRST: the baseline
    // (BASELINE.md) measures a standalone process, and the closest JVM
    // analog is a warmed-but-clean session — after the 26-query sweep
    // the heap's occupancy/fragmentation costs these allocation-bound
    // workloads ~2x. Min of five runs = steady state (heap sizing is
    // runner-controlled; on very large heaps the first runs also pay OS
    // page-commit cost); the cold number stays visible.
    //
    // (The chunked DSv2 source plans its own splits — maxPartitionBytes
    // does not govern it; coalesce sweeps showed per-file chunks are
    // already at the sweet spot for this corpus layout.)
    // COLD = min over three fresh-corpus first-runs (see
    // prepareRefCorpus(prefix)): each attempt reads data this process
    // has NEVER seen, so each is a true cold measurement, and the min
    // is immune to a single outside-load spike — r09's recorded cold
    // was ONE exposed first-rep (2.85 s under a spike) while clean
    // reruns measured 0.49-0.93 s. Stage-local load+heap is snapped
    // before each attempt (ref_cold_w/y/z in stage_tel) so an outlier
    // is adjudicable from the artifact alone.
    val coldRuns = Seq("w" -> refPath, "y" -> prepareRefCorpus(spark, "y"),
      "z" -> prepareRefCorpus(spark, "z")).map { case (pfx, p) =>
      pageTouch(p)
      snap(s"ref_cold_$pfx")
      timeOne("ref_wordcount_12m_cold", () => refWordcount12m(spark, p))
    }
    snap("ref_steady")
    val refRuns = coldRuns.head +: (1 to 6).map(_ =>
      timeOne("ref_wordcount_12m", () => refWordcount12m(spark, refPath)))
    val refBPath = prepareRefCorpusB(spark)
    pageTouch(refBPath)
    val refBRuns = (1 to 7).map(_ =>
      timeOne("ref_wordcount_2m_skew",
        () => refWordcount12m(spark, refBPath)))
    // Amortized form: this 12 MB workload is job-scheduling-bound in
    // Spark (the map side collapses to <=24 rows/partition, so compute
    // is microseconds/task). Five scans of the corpus unioned into ONE
    // job, divided by 5 = the marginal per-corpus cost with the fixed
    // job overhead amortized — the number that scales to N files of
    // skewed input (the single-run `min` keeps the honest fixed cost).
    val refBAmortized = (1 to 2).map { _ =>
      // min of 2: the union-of-5 plan shape differs from the single-run
      // one, so its first execution pays its own codegen
      val five = (1 to 5).map(_ => spark.read
        .format("graft.sources.ChunkedTextSource").load(refBPath))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      runOnce(graft.operators.WordCount.counts(five, col("value")))
      (System.nanoTime() - t0) / 1e9 / 5
    }.min
    // the C binary again, now under the engine rows' own conditions
    val refCLiveAMid = timeRefCMidSweep(refPath)

    // Every scaled workload's full rep list ONCE — results (min), the
    // warm total (min), and the cold total (head) all derive from this
    // sequence, so a row added to the table can never be silently
    // missing from a total (r16 ADVICE: scaled_snm/sq/lpa had drifted
    // out of the hand-maintained total lists while present in results).
    val scaledReps: Seq[(String, Seq[Double])] = scaled.map { w =>
      w.name -> measure(w.prepare(spark, sfDir, 20), w.reps)(timeThunk(w.name))
    }
    val scaledPath = prepareScaledDocs(spark, sfDir)
    // Pair-graph density next to the timing (r15 verdict #1): the
    // cc/minhash/cascade rows cost ~linearly in the EDGE count, and
    // the driver regenerates the corpus between rounds — r15's
    // scaled_cc_x20 2.3x move was unadjudicable because nothing in
    // the artifact said whether the regenerated pair graph got denser.
    // One untimed diagnostic pass; rides a tail "info" line.
    val (ccStatDocs, ccStatEdges, ccStatHot) =
      graft.queries.Dedup.pairGraphStats(spark.read.parquet(scaledPath))
    val ccReps = scaledReps.toMap.apply("scaled_cc_x20")
    System.err.println(s"[bench] scaled x20 pair graph: docs=$ccStatDocs " +
      s"edges=$ccStatEdges hot_buckets_dropped=$ccStatHot " +
      f"cc_reps=${ccReps.map(v => f"$v%.2f").mkString(",")}")
    // DOULION agreement at x20 (r15 verdict #5): exact T vs the
    // edge-sampled estimate over the SAME pair graph — the statistical
    // validation the gate-scale oracle row cannot provide (its sampled
    // triangle count is ~0 at sf0.01). Untimed diagnostic; the numbers
    // ride a tail info line so every round re-proves the estimator.
    val (triExactX20, triEstX20) = {
      val p = pairGraph(spark.read.parquet(scaledPath))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val (triDf, triHook) =
        graft.queries.Dedup.trianglesFromPairsReleasable(p)
      val exact = triDf
        .agg(expr("coalesce(sum(n_tri), 0) DIV 3").as("t"))
        .collect()(0).getAs[Long]("t")
      triHook()
      val est = graft.queries.Dedup.triEstimateFrom(p)
        .collect()(0).getAs[Long]("tri_estimate")
      org.apache.spark.sql.GraftShims.releaseLocalCheckpoint(p)
      System.err.println(s"[bench] tri x20 agreement: exact=$exact " +
        s"estimate=$est (${if (exact > 0) 1000L * est / exact else -1} " +
        "per-mille of exact)")
      (exact, est)
    }
    System.gc()

    // Steady-state per query (min of 2): the baseline's C binary has no
    // JIT/codegen, so its cold run IS its steady state; the comparable
    // JVM number is the run after Janino+JIT have compiled this query's
    // generated code. First-run times still dominate "total_cold".
    val cold = toRun.map { case (name, mk) => name -> timeOne(name, mk) }
    val results0 = toRun.map { case (name, mk) =>
      name -> math.min(cold.toMap.apply(name), timeOne(name, mk))
    }
    // survives-100x triangle row (r10 verdict #6): the wedge-volume
    // guard as per-round evidence. Measure the oriented wedge volume FIRST (degree join +
    // agg — no wedge materialization); only when it fits the 2e9
    // budget is the full adjacency-intersection pass timed, else the
    // refusal itself is the recorded result (the x100 planted-clique
    // graph's triangle output is cubic in clique size — ~33.5e9
    // oriented wedges on recent testdata — and a 10^10-row explode is
    // not a benchmark). Rows emitted: scaled_tri_x100_wedges2 (the
    // measured bound, always), scaled_tri_x100_bound_sec (pair build +
    // measurement wall), scaled_tri_x100 (only when under budget).
    // Informational — excluded from totals so their conditional
    // presence can't make round-over-round totals jump. This block
    // runs AFTER every timed row: its 500k-doc corpus build and
    // 127M-edge MEMORY_AND_DISK_SER checkpoint evict page cache and
    // fill the old gen, and the r11-vs-r12 identical-code A/B showed
    // the immediately-following timed row (then scaled_bpe_deep200)
    // absorbing a 2.7x hit from exactly that adjacency.
    // compact the heap first: the block starts after 100+ queries'
    // accumulated garbage, and its 500k-doc corpus + 127M-edge
    // checkpoint is the sweep's largest single allocation (informational
    // rows — the gc is off every timed path)
    System.gc()
    val docs100 = prepareScaledDocs(spark, sfDir, factor = 100)
    snap("scaled_tri_x100_bound")
    val triBoundT0 = System.nanoTime()
    val pairs100 = pairGraph(spark.read.parquet(docs100))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val wedges2x100 = graft.queries.Dedup.orientedWedgeVolume2(pairs100)
    val triBoundSec = (System.nanoTime() - triBoundT0) / 1e9
    System.err.println(f"[bench] scaled_tri_x100 orientedWedges2=$wedges2x100 " +
      f"boundMeasure=$triBoundSec%.1f s " +
      (if (wedges2x100 > 4_000_000_000L) "-> SKIP (over 2e9 wedge budget)"
       else "-> timing"))
    val triX100skipped = wedges2x100 > 4_000_000_000L
    val triX100: Seq[(String, Double)] =
      Seq("scaled_tri_x100_wedges2" -> wedges2x100.toDouble,
        "scaled_tri_x100_bound_sec" -> triBoundSec) ++
      (if (!triX100skipped)
        Seq("scaled_tri_x100" -> measure(releasableJob(() =>
          graft.queries.Dedup.trianglesFromPairsReleasable(pairs100)), 1)(
          timeThunk("scaled_tri_x100")).head)
      else Seq.empty)
    // Bounded-work ESTIMATE in the refusal regime (r15 verdict #5 —
    // "a real user still wants a number"): the md5 edge sample keeps
    // ~1/5 of the edges, so the sampled graph's wedge volume is ~1/25
    // of the full — inside the budget exactly when the full graph is
    // within 25x of it. The estimate VALUE stays out of `results`
    // (a triangle count would top the seconds-ranked q parts); it
    // rides the info line with the x20 agreement numbers instead.
    val (triX100EstSec, triX100Estimate, triX100EstWedges2) =
      if (triX100skipped) {
        snap("scaled_tri_x100_est")
        val t0 = System.nanoTime()
        // the deterministic sample is drawn ONCE (r17): the wedge-budget
        // measurement and the estimate both read this checkpoint instead
        // of each re-running the 127M-row md5 filter scan
        val kept = graft.queries.Dedup.triSampleOf(pairs100)
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        // MEASURE the sampled graph's wedge volume against the same
        // budget before counting on it — the ~1/k² reduction is
        // expected, not guaranteed, on a pathological sample
        val estW = graft.queries.Dedup.orientedWedgeVolume2(kept)
        val out = if (estW > 4_000_000_000L) {
          System.err.println(s"[bench] scaled_tri_x100 estimate REFUSED " +
            s"too: sampled wedges2=$estW still over budget")
          ((System.nanoTime() - t0) / 1e9, -1L, estW)
        } else {
          val est = graft.queries.Dedup.triEstimateOnSample(kept)
            .collect()(0).getAs[Long]("tri_estimate")
          ((System.nanoTime() - t0) / 1e9, est, estW)
        }
        org.apache.spark.sql.GraftShims.releaseLocalCheckpoint(kept)
        out
      } else (Double.NaN, -1L, -1L)
    if (triX100skipped)
      System.err.println(f"[bench] scaled_tri_x100 DOULION estimate=" +
        f"$triX100Estimate (wall $triX100EstSec%.1f s, sampled " +
        f"wedges2=$triX100EstWedges2)")
    // survives-100x evidence for the r13 h-index core decomposition
    // (r13 verdict #5): the probe's 199 s wall lived only in README —
    // time the FULL decomposition over the same checkpointed x100 pair
    // graph here so the claim rides the artifact as a tail-surviving
    // "metric":"info" line (like the triangle wedge bound). The edge
    // count is free: the checkpoint is materialized, count() is a
    // metadata-cheap scan of the cached partitions. Informational —
    // excluded from totals like the whole x100 block.
    val corenessEdges = pairs100.count()
    snap("scaled_coreness_x100")
    val corT0 = System.nanoTime()
    graft.queries.Dedup.corenessFromPairs(pairs100)
      .agg(org.apache.spark.sql.functions.sum("coreness")).collect()
    val corSec = (System.nanoTime() - corT0) / 1e9
    System.err.println(f"[bench] scaled_coreness_x100 edges=$corenessEdges wall=$corSec%.1f s")
    val corenessX100Info: Option[String] = Some(
      f"""{"metric":"info","scaled_coreness_x100_sec":$corSec%.3f,"scaled_coreness_x100_edges":$corenessEdges}""")
    org.apache.spark.sql.GraftShims.releaseLocalCheckpoint(pairs100)

    // ANN serve at the survives-100x regime (r16 verdict #6: the serve
    // path's sweep evidence stopped at x20): the IVF index over the
    // 200k-vector jittered x100 corpus is built ONCE into a parquet
    // artifact (untimed — the sim_index_persist build/probe split,
    // keyed through the corpus path's source fingerprint), then the
    // LOADED-artifact serve is timed and its recall@10 graded against
    // exact brute cosine over the same probes. Informational line,
    // excluded from totals like the rest of the x100 block; any
    // failure degrades to NaN, never fails the sweep.
    val (serve100Sec, serve100Mille, serve100Vecs) = try {
      snap("sim_serve_x100")
      val emb100 = prepareScaledEmb(spark, sfDir, factor = 100)
      val e100 = spark.read.parquet(emb100)
      val idxBase = emb100 + "_ivfidx"
      val (cent100, asg100) =
        graft.queries.Similarity.ivfIndexFrames(spark, e100)
      if (!new java.io.File(idxBase).exists()) {
        cent100.write.mode("overwrite").parquet(s"$idxBase/centroids")
        asg100.write.mode("overwrite").parquet(s"$idxBase/assigned")
      }
      val nVec = e100.count()
      val q100 = e100.filter(scaledEmbQueryPred)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
      val t0 = System.nanoTime()
      val served = graft.queries.Similarity.ivfServe(spark,
        spark.read.schema(cent100.schema).parquet(s"$idxBase/centroids"),
        spark.read.schema(asg100.schema).parquet(s"$idxBase/assigned"),
        q100, topK = 10).collect()
      val sSec = (System.nanoTime() - t0) / 1e9
      val exact = graft.queries.Similarity.bruteTopkFrom(spark, e100,
        scaledEmbQueryPred, topK = 10)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nHit = served
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
        .count(exact.contains)
      System.err.println(f"[bench] sim_serve_x100 serve=$sSec%.2f s " +
        f"recall=${1000L * nHit / exact.size} mille over ${exact.size} pairs")
      (sSec, 1000L * nHit / exact.size, nVec)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] sim_serve_x100 skipped: ${e.getMessage}")
        (Double.NaN, -1L, -1L)
    }

    val results = results0 ++ Seq(
      "ref_wordcount_12m" -> refRuns.min,
      "ref_wordcount_12m_median" -> median(refRuns),
      // min/max over the three fresh-corpus attempts: min is the
      // reported cold, max makes a load-spiked attempt visible next to
      // its stage_tel load sample instead of silently vanishing
      "ref_wordcount_12m_cold" -> coldRuns.min,
      "ref_wordcount_12m_cold_max" -> coldRuns.max,
      "ref_wordcount_2m_skew" -> refBRuns.min,
      "ref_wordcount_2m_skew_median" -> median(refBRuns),
      "ref_wordcount_2m_skew_amortized" -> refBAmortized,
      // the C binary itself, re-timed this sweep on this box/corpus
      // (early = clean-JVM conservative denominator; midsweep = under
      // the engine rows' own heap/box conditions)
      "ref_c_live_12m" -> refCLiveA,
      "ref_c_live_2m_skew" -> refCLiveB,
      "ref_c_live_12m_midsweep" -> refCLiveAMid) ++
      scaledReps.map { case (k, reps) => k -> reps.min } ++ triX100 ++
      (if (triX100skipped) Seq("scaled_tri_x100_est_sec" -> triX100EstSec)
       else Seq.empty)

    // NaN (= failed) prints as null and never reaches a sum: a reader
    // of only the metric lines sees the gap, not a fake-fast number
    def jNum(v: Double): String = if (v.isNaN) "null" else f"$v%.3f"
    def okSum(xs: Seq[Double]): Double = xs.filterNot(_.isNaN).sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + jNum(v) }
      .mkString("{", ",", "}")
    // totals count each workload once: *_cold/*_median/ref_c_live and
    // the x100 info rows are informational (.min under TotalOrdering
    // ranks NaN greatest, so a workload's min is its best SUCCESSFUL
    // run; all-failed -> NaN -> excluded here). r17 note: deriving
    // from scaledReps added the previously-omitted snm/sq/lpa rows
    // (~+20 s warm vs the r16 denominator) — per-row comparisons are
    // unaffected.
    val total = okSum(results0.map(_._2) ++ Seq(refRuns.min, refBRuns.min) ++
      scaledReps.map(_._2.min))
    val totalCold = okSum(cold.map(_._2) ++ Seq(refRuns.head, refBRuns.head) ++
      scaledReps.map(_._2.head))
    // The scaled-row subtotal as its own summary field (r17 verdict #8:
    // deriving totals from scaledReps in r17 silently ADDED the
    // previously-dropped snm/sq/lpa rows to the denominator, making a
    // faster round read slower on raw totals — a judged artifact should
    // carry the decomposition, not force its reconstruction)
    val totalScaled = okSum(scaledReps.map(_._2.min))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // 1-minute system load at exit: the box is shared, and outside load
    // inflates the barrier-heavy workloads 2-4x — record it so a noisy
    // round is distinguishable from a regression when reading the JSON
    val loadAvg = loadNow
    // stage_tel: [1-min load, used heap MB] at each workload's first
    // timed attempt (+ the ref_cold_* attempt boundaries)
    val telJson = stageTel.map { case (k, (l, h)) =>
      f""""$k":[$l%.2f,$h]""" }.mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"value_cold":$totalCold%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"load_avg_start":$loadAvgStart%.2f,"load_avg":$loadAvg%.2f,"stage_tel":$telJson,"sf":"$sfDir"}""")
    // The full line above outgrew tail-capture windows once (r09:
    // "parsed": null) — so a SHORT summary line always comes LAST,
    // carrying the headline numbers a capped tail capture needs.
    val summaryLine = f"""{"metric":"summary","value":$total%.3f,"value_cold":$totalCold%.3f,"value_scaled":$totalScaled%.3f,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"ref_wordcount_12m":${jNum(refRuns.min)},"ref_wordcount_12m_median":${jNum(median(refRuns))},"ref_wordcount_12m_cold":${jNum(coldRuns.min)},"ref_wordcount_2m_skew":${jNum(refBRuns.min)},"ref_c_live_12m":${jNum(refCLiveA)},"ref_c_live_2m_skew":${jNum(refCLiveB)},"load_avg_start":$loadAvgStart%.2f,"load_avg":$loadAvg%.2f,"sf":"$sfDir"}"""
    println(summaryLine)
    // TAIL EMISSION ORDER (r13 verdict #1, REVISED r16 after r15's
    // artifact lost every tel/info line): the driver keeps only the
    // last ~2000 chars of output, so value must INCREASE toward the
    // last line. r13 lost the q parts (tel/info printed after them and
    // ate the window); r15 lost tel/info the other way (three q parts
    // plus ~900 chars of shutdown BlockManager WARNs pushed them out).
    // New order: FULL tel parts EARLY (complete record for an uncapped
    // reader), then the q parts REVERSED (cheapest part first, most
    // expensive rows nearest the end), then ONE compact tel part for
    // just the top-ranked rows, then the SHORT info lines (x100
    // refusal justification, pair-graph density, per-rep headline
    // times), then the summary as the very last line. The log level
    // drops to ERROR first so the shutdown WARN spray cannot eat the
    // window again.
    spark.sparkContext.setLogLevel("ERROR")
    val ranked = results
      .filterNot { case (k, v) => k.endsWith("_wedges2") || v.isNaN }
      .sortBy(-_._2)
      .take(36)
    // Per-scaled-row [load, heap MB] stage telemetry as SHORT part
    // lines: the stage_tel map in the full line is the first thing a
    // capped tail capture clips, and r11's bpe_deep 2.7x anomaly took
    // a full round to adjudicate for exactly that reason — the load
    // sample that explained it never survived to the artifact.
    val telRanked = ranked.map(_._1)
    val telTail = stageTel.filter { case (k, _) =>
      telRanked.contains(k) || k.startsWith("scaled_") }
    telTail.grouped(16).zipWithIndex.foreach { case (grp, i) =>
      val rows = grp.map { case (k, (l, h)) => f""""$k":[$l%.2f,$h]""" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"tel","part":${i + 1},"of":${(telTail.size + 15) / 16},"rows":$rows}""")
    }
    // Row-level perf history must survive the driver's capped tail
    // capture (r10 AND r13 both lost it): the most expensive ~36 rows
    // as SHORT "metric":"q" part lines (~12 rows, ~450 bytes each).
    // Parts are numbered most-expensive-first (part 1 = top rows) but
    // PRINTED in reverse so part 1 is the last line before the tail
    // tel/info block.
    val qParts = ranked.grouped(12).zipWithIndex.map { case (grp, i) =>
      val rows = grp.map { case (k, v) => "\"" + k + "\":" + jNum(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"q","part":${i + 1},"of":${(ranked.size + 11) / 12},"rows":$rows}"""
    }.toSeq
    qParts.reverse.foreach(println)
    // Compact tel for just the top-ranked rows — ONE part, sized so it
    // fits the capped window together with the info + summary lines
    // (the full tel parts above are for uncapped readers).
    val telTop = ranked.take(12)
      .flatMap { case (k, _) => stageTel.get(k).map(k -> _) }
    if (telTop.nonEmpty) {
      val rows = telTop.map { case (k, (l, h)) => f""""$k":[$l%.2f,$h]""" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"tel","part":1,"of":1,"top":true,"rows":$rows}""")
    }
    // The x100 refusal's justification must survive the capped tail
    // window (r11/r12: the wedge count lived only in the clipped full
    // line, so the skip read as an unexplained hole): SHORT info lines
    // carrying the measured bound, the guard budget, and whether the
    // timed pass was skipped — plus the coreness-x100 evidence line.
    println(f"""{"metric":"info","scaled_tri_x100_wedges2":$wedges2x100,"budget":4000000000,"scaled_tri_x100_bound_sec":$triBoundSec%.3f,"skipped":$triX100skipped}""")
    // the DOULION numbers: x20 estimate-vs-exact agreement (the
    // estimator's per-round validation) and the x100 estimate that
    // turns the wedge-budget refusal into a bounded-work answer
    println(s"""{"metric":"info","tri_x20_exact":$triExactX20,"tri_x20_estimate":$triEstX20,"tri_x100_estimate":$triX100Estimate,"tri_x100_est_sec":${jNum(triX100EstSec)},"tri_x100_est_wedges2":$triX100EstWedges2}""")
    corenessX100Info.foreach(println)
    // the x100 serve-path evidence (r16 verdict #6): loaded-index IVF
    // serve wall + recall@10 per-mille vs exact brute, every sweep
    println(s"""{"metric":"info","sim_serve_x100_sec":${jNum(serve100Sec)},"sim_serve_x100_recall_mille":$serve100Mille,"sim_serve_x100_vectors":$serve100Vecs}""")
    // Pair-graph density + per-rep times for the regeneration-sensitive
    // rows (r15 verdict #1/#3/#5): the numbers that adjudicate a
    // timing move as corpus-density vs plan-regression vs load.
    println(s"""{"metric":"info","scaled_x20_docs":$ccStatDocs,"scaled_x20_edges":$ccStatEdges,"scaled_x20_hot_buckets":$ccStatHot,"scaled_cc_x20_reps":[${ccReps.map(jNum).mkString(",")}]}""")
    println(s"""{"metric":"info","ref_wordcount_2m_skew_reps":[${refBRuns.map(jNum).mkString(",")}],"ref_wordcount_12m_reps":[${refRuns.map(jNum).mkString(",")}],"ref_c_live_12m_midsweep":${jNum(refCLiveAMid)}}""")
    println(summaryLine)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The session Bench and BenchProbe run in: `local[N]` with N shuffle
    * partitions, N = SPARK_GRAFT_CPUS or, unset, the machine's core
    * count; file scans split at 8 MB instead of the 128 MB default so a
    * single ~100 MB text/parquet file still fans out across all cores.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Engine.session(s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
    spark
  }
}
