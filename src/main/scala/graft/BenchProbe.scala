package graft

import org.apache.spark.sql.DataFrame

/** Scratch harness: time one named query repeatedly to find steady state.
  * Usage: runMain graft.BenchProbe <name|ref> [reps]
  */
object BenchProbe {

  /** Parses `SPARK_GRAFT_CONF="k=v,k=v"` — session-conf overrides for
    * A/B probing without a recompile per value. A comma separates two
    * entries only when a `key=` token follows it, so a list-valued conf
    * (`k=a,b`) keeps its commas; text without `=` is ignored.
    */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(",(?=[^,=]+=)").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }

  /** One `[stage]` line per completed stage: wall, task run /
    * deserialize / GC time, input rows, shuffle read and write rows and
    * MB, shuffle write time and spill.
    */
  private def stageListener = new org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val ms = for {s <- si.submissionTime; c <- si.completionTime} yield c - s
      val m = si.taskMetrics
      println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
        f"dur=${ms.getOrElse(-1L)}%6d ms run=${m.executorRunTime}%6d " +
        f"deser=${m.executorDeserializeTime}%5d gc=${m.jvmGCTime}%5d " +
        f"in=${m.inputMetrics.recordsRead}%10d " +
        f"shufR=${m.shuffleReadMetrics.recordsRead}%10d/${m.shuffleReadMetrics.totalBytesRead >> 20}%5d MB " +
        f"shufW=${m.shuffleWriteMetrics.recordsWritten}%10d/${m.shuffleWriteMetrics.bytesWritten >> 20}%5d MB " +
        f"shufWms=${m.shuffleWriteMetrics.writeTime / 1000000}%5d " +
        f"spill=${m.memoryBytesSpilled >> 20}%5d/${m.diskBytesSpilled >> 20}%5d MB " +
        si.name.take(56))
    }
  }

  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "ref"
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CPUS: probe at another core count without a bespoke
    // harness — same master/shuffle-partition coupling and the same
    // machine-core-count default as Bench.main
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Engine.session(s"local[$cpus]", shufflePartitions = cpus.toInt)
    val mb = sys.env.getOrElse("SPARK_GRAFT_MAXPART_MB", "8").toLong
    spark.conf.set("spark.sql.files.maxPartitionBytes", (mb << 20).toString)
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      parseConf(_).foreach { case (k, v) => spark.conf.set(k, v) })

    // SPARK_GRAFT_STAGES=1: per-stage telemetry for ANY probe, so an
    // optimization round can attribute a workload's wall to its
    // exchanges without writing a bespoke probe per query (guide
    // §1.1/§7.1)
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(stageListener)

    def mk(): DataFrame =
      if (name == "ref") {
        val p = Bench.prepareRefCorpus(spark)
        Bench.refWordcount12m(spark, p)
      } else if (name == "reffile") {
        // same corpus through ChunkedTextSource (whole-chunk rows, no
        // per-line record production) — the reference's own read model
        val p = Bench.prepareRefCorpus(spark)
        graft.operators.WordCount.fromFile(spark, p)
      } else if (name.startsWith("refc")) {
        // line scan coalesced to N partial maps before the fused count:
        // shuffle rows = N x |vocab|
        val parts = name.stripPrefix("refc").toInt
        val p = Bench.prepareRefCorpus(spark)
        graft.plans.TokenCounts.sortedCounts(
          spark.read.text(p).coalesce(parts),
          org.apache.spark.sql.functions.col("value"))
      } else if (name.startsWith("reffilec")) {
        // coalesced chunk scan: N partial maps instead of 32 -> the
        // vocab-sized partial-row shuffle shrinks proportionally
        val parts = name.stripPrefix("reffilec").toInt
        val p = Bench.prepareRefCorpus(spark)
        val lines = spark.read.format("graft.sources.ChunkedTextSource").load(p)
        graft.plans.TokenCounts.sortedCounts(lines.coalesce(parts),
          org.apache.spark.sql.functions.col("value"))
      } else if (name == "refbfile") {
        val p = Bench.prepareRefCorpusB(spark)
        graft.operators.WordCount.fromFile(spark, p)
      } else if (name == "refb") {
        val p = Bench.prepareRefCorpusB(spark)
        Bench.refWordcount12m(spark, p)
      } else if (name == "scaledsubstr") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.duplicatedSpansFrom(
          spark.read.parquet(p), graft.queries.Dedup.SUBSTR_L)
      } else if (name == "scaledsubstr100") {
        // x100 = 500k docs / ~18M positions at sf0.1: the shuffle is
        // O(positions) fixed-width rows, so this should scale ~linearly
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        graft.queries.Dedup.duplicatedSpansFrom(
          spark.read.parquet(p), graft.queries.Dedup.SUBSTR_L)
      } else if (name == "scaledsnm") {
        // sorted-neighborhood blocking at x20 (the scaled_snm_x20 row
        // in isolation): two per-block rank windows + offset equi-join
        // + exact verification over the 100k-doc synthetic corpus
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.sortedNeighborhoodPairsFrom(
          spark.read.parquet(p))
      } else if (name == "scaledmh") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        Bench.scaledMinhash(spark, p)
      } else if (name == "scaledtristats") {
        // one-off shape diagnostic for the x20 pair graph
        val p = Bench.prepareScaledDocs(spark, sfDir)
        val pairs = Bench.scaledMinhash(spark, p).select("a_id", "b_id")
          .localCheckpoint(true)
        val np = pairs.count()
        val deg = pairs.select(org.apache.spark.sql.functions.col("a_id").as("id"))
          .union(pairs.select(org.apache.spark.sql.functions.col("b_id").as("id")))
          .groupBy("id").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("d"))
        val stats = deg.agg(
          org.apache.spark.sql.functions.max("d"),
          org.apache.spark.sql.functions.avg("d"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).collect()(0)
        println(s"[probe] scaledtristats pairs=$np maxDeg=${stats.get(0)} " +
          s"avgDeg=${stats.get(1)} nodes=${stats.get(2)}")
        pairs.limit(1)
      } else if (name == "scaledtri") {
        // triangle counting over the x20 near-dup pair graph: the
        // planted cliques make the triangle OUTPUT cubic per clique,
        // so this stresses the degree-ordered orientation's fan-out
        // bound, not just the pair pipeline
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.trianglesFromPairs(
          Bench.scaledMinhash(spark, p).select("a_id", "b_id"))
      } else if (name == "scaledkcore") {
        // 3-core peel over the x20 near-dup pair graph — the Bench
        // scaled_kcore_x20 workload, isolated for plan iteration
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.kcoreFromPairs(
          Bench.scaledMinhash(spark, p).select("a_id", "b_id"),
          k = 3, rounds = 8)
      } else if (name == "scaledejacc") {
        // hub-split edge jaccard over the x20 pair graph — the Bench
        // scaled_ejacc_x20 workload, isolated for variance triage
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.edgeJaccardFrom(
          Bench.scaledMinhash(spark, p).select("a_id", "b_id"))
      } else if (name == "scaledcoreness") {
        // full h-index core decomposition over the x20 pair graph —
        // the Bench scaled_coreness_x20 workload, isolated for plan
        // iteration against scaledkcore
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.corenessFromPairs(
          Bench.scaledMinhash(spark, p).select("a_id", "b_id"))
      } else if (name == "scaledlpa") {
        // LPA at x20 (the Bench scaled_lpa_x20 workload, isolated):
        // 4 synchronous rounds over the minhash pair graph — the row
        // that regressed 2x in r17 under the per-round label broadcast
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.lpaFromPairs(
          Bench.scaledMinhash(spark, p).select("a_id", "b_id"))
      } else if (name == "scaledsimhash") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        Bench.simhashPairs(spark, p)
      } else if (name == "scaledpq") {
        val p = Bench.prepareScaledEmb(spark, sfDir)
        graft.queries.Similarity.pqTopkFrom(spark.read.parquet(p))
      } else if (name == "scaledsemantic") {
        // SemDeDup at x20 (40k vectors): k = floor(sqrt(n)) = 200
        // centroids through the array-form Lloyd assign (two update
        // rounds + final assign), then intra-cluster pairs only —
        // the O(n^1.5) pair-work bound in action
        val p = Bench.prepareScaledEmb(spark, sfDir)
        graft.queries.Similarity.semanticDedupFrom(
          spark, spark.read.parquet(p))
      } else if (name == "scaledivf100") {
        // survives-100x ANN: 200k jittered vectors; IVF assignment is
        // one broadcast pass, the probe scan touches ~nprobe/nlist
        val p = Bench.prepareScaledEmb(spark, sfDir, 100)
        graft.queries.Similarity.ivfTopkFrom(spark,
          spark.read.parquet(p), Bench.scaledEmbQueryPred, topK = 10)
      } else if (name == "scaledpq100") {
        // survives-100x PQ: full subspace-k-means build at 200k vectors
        // + ADC shortlist + exact re-rank
        val p = Bench.prepareScaledEmb(spark, sfDir, 100)
        graft.queries.Similarity.pqTopkFrom(
          spark.read.parquet(p), Bench.scaledEmbQueryPred, topK = 10)
      } else if (name == "scaledstreamw100") {
        // survives-100x streaming: 10M events / 150k users through the
        // real watermark + tumbling-window state store (AvailableNow)
        val p = Bench.prepareScaledEvents(spark, sfDir, 100)
        graft.queries.EventsTime.windowedReplayOn(
          spark, spark.read.parquet(p).schema, p)
      } else if (name == "scaledstreams100") {
        // survives-100x merging session state over 150k keys
        val p = Bench.prepareScaledEvents(spark, sfDir, 100)
        graft.queries.EventsTime.sessionReplayOn(
          spark, spark.read.parquet(p).schema, p)
      } else if (name == "scaledwinnow100") {
        // survives-100x winnowing: ~90M fingerprint positions through
        // the fused generator — map + one sort, no join, so wall should
        // track positions ~linearly from the x20 row
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        graft.queries.TextAnalysis.winnowFrom(spark.read.parquet(p))
      } else if (name == "scaledsparse100") {
        // survives-100x inverted-index cosine: the df cap is the whole
        // claim — posting buckets stay bounded no matter how much
        // replication inflates term frequencies
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        graft.queries.Similarity.sparseCosinePairsFrom(spark.read.parquet(p))
      } else if (name == "scaledchunk100") {
        // survives-100x chunking: ~100M tokens through the map-only
        // generator (no shuffle — the linearity claim made visible)
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        import org.apache.spark.sql.functions.col
        spark.read.parquet(p)
          .select(col("doc_id"), graft.functions.ChunkExplode
            .chunks(spark, col("text"), 64, 48)
            .as(Seq("chunk_idx", "chunk", "n_tokens")))
      } else if (name == "scaledcontam100" || name == "scaledbloom100") {
        // survives-100x decontamination: 500k docs vs a 0.2% benchmark
        // slice (rep 0 of every 5th pack, as scaledinc100) — the sparse
        // regime the Bloom pushdown is built for; corpus shingles that
        // miss the one-row broadcast bitset never reach the exact join
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        val docs = spark.read.parquet(p)
        val bench100 = docs.filter(
          org.apache.spark.sql.functions.col("doc_id") % 500 === 0)
        if (name == "scaledbloom100")
          graft.queries.Dedup.bloomContaminationFrom(docs, bench100)
        else graft.queries.Dedup.contaminationFrom(docs, bench100)
      } else if (name == "scaledsimhash100") {
        // survives-100x SimHash Hamming-LSH: 100-member exact+near
        // cliques share (or nearly share) 64-bit signatures, so the
        // banded self-join leans entirely on the block structure
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        Bench.simhashPairs(spark, p)
      } else if (name == "scaledkmeans100") {
        // survives-100x Lloyd: the gate's k/rounds on 200k jittered
        // vectors — per-round cost is one broadcast-centroid assign
        // (LongSqDist) + one re-center agg, independent of k*N pairs
        val p = Bench.prepareScaledEmb(spark, sfDir, 100)
        graft.queries.Similarity.kmeansFrom(spark.read.parquet(p))
      } else if (name == "scaledsemantic100") {
        // survives-100x SemDeDup: 200k jittered vectors, k = sqrt(n)
        // ~ 447 centroids, intra-cluster pairs only (the O(n^1.5)
        // pair-work bound at the next scale step)
        val p = Bench.prepareScaledEmb(spark, sfDir, 100)
        graft.queries.Similarity.semanticDedupFrom(
          spark, spark.read.parquet(p))
      } else if (name == "scaledbloom") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        val docs = spark.read.parquet(p)
        graft.queries.Dedup.bloomContaminationFrom(
          docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0))
      } else if (name == "scaledcontam") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        val docs = spark.read.parquet(p)
        graft.queries.Dedup.contaminationFrom(
          docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0))
      } else if (name == "scaledppjoin") {
        // the t=0.9 / 5-gram regime a production exact pass runs (see
        // ppjoinPairsFrom scaladoc: t=0.5 trigrams cannot prune on a
        // saturated shingle space)
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.ppjoinPairsFrom(spark.read.parquet(p),
          tNum = 9, tDen = 10, shingleN = 5)
      } else if (name == "scaledppjoin100") {
        // x100 EXACT similarity join: 500k docs in 100-member dup
        // cliques — the true-pair OUTPUT is ~25M, so this probes
        // whether prefix+length filtering keeps the candidate stream
        // proportional to the (inherently quadratic-per-clique) answer
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        graft.queries.Dedup.ppjoinPairsFrom(spark.read.parquet(p),
          tNum = 9, tDen = 10, shingleN = 5)
      } else if (name == "scaledsparse") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Similarity.sparseCosinePairsFrom(spark.read.parquet(p))
      } else if (name == "scaledspans") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.spanDedupFrom(spark.read.parquet(p))
      } else if (name == "scaledinc") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        val docs = spark.read.parquet(p)
        import org.apache.spark.sql.functions.col
        graft.queries.Dedup.incrementalPairsFrom(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0))
      } else if (name == "scaledcc") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.queries.Dedup.clustersFrom(spark.read.parquet(p), ordered = false)
      } else if (name == "scaledmh100") {
        // x100 = 500k docs / ~100M shingles: the survives-100x probe
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        Bench.scaledMinhash(spark, p)
      } else if (name == "scaledcc100") {
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        graft.queries.Dedup.clustersFrom(spark.read.parquet(p), ordered = false)
      } else if (name == "scaledcoreness100") {
        // survives-100x evidence for the h-index decomposition: the
        // x100 pair graph (~127M directed edge rows through each
        // round's join) with the edge list checkpointed once — no
        // per-round edge rewrite, so cost is rounds x (join + two
        // bounded hash aggs)
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        graft.queries.Dedup.corenessFromPairs(
          graft.queries.Dedup.minhashPairsFrom(
            spark.read.parquet(p), ordered = false)
            .select("a_id", "b_id"))
      } else if (name == "scaledinc100") {
        val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
        val docs = spark.read.parquet(p)
        import org.apache.spark.sql.functions.col
        // doc_id packs as orig*100+rep: % 500 === 0 selects rep 0 of
        // every 5th pack (0.2% batch) — the clean rep-0 split shape the
        // x20 probe uses (% 250 mixed rep 0 and rep 50 batches)
        graft.queries.Dedup.incrementalPairsFrom(
          docs.filter(col("doc_id") % 500 =!= 0),
          docs.filter(col("doc_id") % 500 === 0))
      } else if (name == "scaledsig") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        graft.operators.DedupOps.minhashSignatures(
          spark.read.parquet(p), "doc_id", org.apache.spark.sql.functions.col("text"), 3, 16)
      } else if (name == "scaledjoin") {
        val p = Bench.prepareScaledDocs(spark, sfDir)
        import org.apache.spark.sql.functions._
        val base = graft.operators.DedupOps.minhashSignatures(
          spark.read.parquet(p), "doc_id", col("text"), 3, 16)
        val banded = base.select(col("doc_id"), col("sig"),
            posexplode(graft.operators.DedupOps.bandKeys(col("sig"), 4, 4)))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
        val a = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"), col("sig").as("a_sig"))
        val b = banded.select(col("band"), col("bkey"), col("doc_id").as("b_id"), col("sig").as("b_sig"))
        a.join(b, Seq("band", "bkey")).filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id")
      } else SparkEntry.queries(name)(spark, sfDir)

    if (name == "ccstats") {
      // Pair-graph density of the x20 scaled corpus (r15 verdict #1):
      // docs / surviving est>=0.5 edges / guard-dropped hot buckets —
      // the numbers that adjudicate a scaled_cc_x20 timing move as
      // corpus density vs plan regression. Optional factor via reps
      // arg (default 20).
      val factor = if (args.length > 1) args(1).toInt else 20
      val p = Bench.prepareScaledDocs(spark, sfDir, factor)
      val (d, e, h) = graft.queries.Dedup.pairGraphStats(
        spark.read.parquet(p))
      println(s"[probe] ccstats x$factor: docs=$d edges=$e " +
        s"hot_buckets_dropped=$h")
      spark.stop(); return
    }
    if (name == "scaledknng") {
      // x20 k-NN graph: times knnGraphFrom at 40k vectors AND asserts
      // the O(n^1.5) pair bound from the REALIZED cluster sizes — the
      // scored-pair count is sum over clusters of sz*(sz-1), which for
      // balanced k = sqrt(n) clusters is exactly n^1.5; the slack
      // factor covers Lloyd imbalance on the planted-clique corpus.
      // The bound failing would mean the partitioning degenerated into
      // a few giant clusters, i.e. the all-pairs n^2 the construction
      // exists to avoid.
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val p = Bench.prepareScaledEmb(spark, sfDir)
      val e = spark.read.parquet(p)
      val n = e.count()
      val k = graft.queries.Similarity.semanticDedupKOf(n)
      val scored = graft.queries.Similarity.kmeansAssignFrom(e, k)
        .groupBy("c").agg(count(lit(1)).as("sz"))
        .agg(sum(col("sz") * (col("sz") - 1)).as("sp"))
        .collect()(0).getAs[Long]("sp")
      val bound = math.pow(n.toDouble, 1.5)
      println(f"[probe] scaledknng n=$n k=$k scoredPairs=$scored " +
        f"n^1.5=$bound%.0f ratio=${scored / bound}%.2f")
      assert(scored <= 20 * bound,
        f"scored-pair bound blown: $scored > 20*n^1.5 (${20 * bound}%.0f)")
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        graft.queries.Similarity.knnGraphFrom(spark, e)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] scaledknng run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }
    if (name == "scaledtri100") {
      // survives-100x triangle counting via the adjacency-intersection
      // pass: measure the oriented wedge volume FIRST (one degree join
      // + sum — cheap) and only time the full pass when the volume is
      // tractable; planted cliques make triangle output cubic in
      // clique size, so an unguarded x100 run could be a 10^11-row
      // explode rather than a benchmark
      import org.apache.spark.sql.functions.{col, count, lit, sum, when}
      val p = Bench.prepareScaledDocs(spark, sfDir, factor = 100)
      val pairs = Bench.scaledMinhash(spark, p)
        .select("a_id", "b_id").localCheckpoint(true)
      val m = pairs.count()
      val deg = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val aLower = col("da") < col("db") ||
        (col("da") === col("db") && col("a_id") < col("b_id"))
      val fwd = pairs
        .join(deg.select(col("id").as("a"), col("degree").as("da")),
          col("a_id") === col("a"))
        .join(deg.select(col("id").as("b"), col("degree").as("db")),
          col("b_id") === col("b"))
        .select(when(aLower, col("a_id")).otherwise(col("b_id")).as("src"))
        .groupBy("src").agg(count(lit(1)).as("fd"))
      val wedges2 = fwd.agg(sum(col("fd") * (col("fd") - 1)).as("w"))
        .collect()(0).getAs[Long]("w")
      println(s"[probe] scaledtri100 edges=$m orientedWedges2=$wedges2")
      if (wedges2 > 4_000_000_000L) {
        println(s"[probe] scaledtri100 SKIP timing: wedge volume " +
          s"${wedges2 / 2} exceeds the 2e9 probe budget (cubic clique " +
          "output regime -- the bound itself is the result)")
      } else (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        graft.queries.Dedup.trianglesFromPairs(pairs)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] scaledtri100 run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }
    if (name == "scaledtribound") {
      // Wedge-bound assert for the degree-ordered orientation at x20:
      // the oriented wedge stream (sum over nodes of fwdDeg*(fwdDeg-1))
      // must stay far below the naive apex stream (sum of deg*(deg-1))
      // an unoriented algorithm generates — on the 20-clique corpus the
      // exact ratio is 3 (C(20,3) oriented wedges per clique vs
      // 20*C(19,2) naive), and on skewed graphs the gap is the whole
      // "curse of the last reducer" claim. Then times the full
      // trianglesFromPairs pass (the same code scaled_tri_x20 rides).
      import org.apache.spark.sql.functions.{col, count, lit, sum, when}
      val p = Bench.prepareScaledDocs(spark, sfDir)
      val pairs = Bench.scaledMinhash(spark, p).select("a_id", "b_id")
        .localCheckpoint(true)
      val deg = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val aLower = col("da") < col("db") ||
        (col("da") === col("db") && col("a_id") < col("b_id"))
      val fwd = pairs
        .join(deg.select(col("id").as("a"), col("degree").as("da")),
          col("a_id") === col("a"))
        .join(deg.select(col("id").as("b"), col("degree").as("db")),
          col("b_id") === col("b"))
        .select(when(aLower, col("a_id")).otherwise(col("b_id")).as("src"))
        .groupBy("src").agg(count(lit(1)).as("fd"))
      val oriented2 = fwd.agg(sum(col("fd") * (col("fd") - 1)).as("w"))
        .collect()(0).getAs[Long]("w")
      val naive2 = deg.agg(sum(col("degree") * (col("degree") - 1)).as("w"))
        .collect()(0).getAs[Long]("w")
      val maxDeg = deg.agg(org.apache.spark.sql.functions.max("degree"))
        .collect()(0).getLong(0)
      println(f"[probe] scaledtribound orientedWedges2=$oriented2 " +
        f"naiveWedges2=$naive2 ratio=${naive2.toDouble / oriented2}%.2f " +
        s"maxDeg=$maxDeg")
      assert(2 * oriented2 <= naive2,
        s"orientation gained < 2x on wedges: $oriented2 vs naive $naive2")
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        graft.queries.Dedup.trianglesFromPairs(pairs)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] scaledtribound run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }
    if (name == "lshrecall") {
      // Measured recall of the banded-LSH near-dup pipeline vs exact
      // PPJoin ground truth at the same threshold (J >= 0.5 over word
      // trigrams) on the x20 corpus — guarded vs unguarded, so the
      // hot-bucket guard's deliberately dropped candidates are priced
      // (n_cand delta) alongside what they cost in recall.
      val p = Bench.prepareScaledDocs(spark, sfDir)
      val docs = spark.read.parquet(p)
      val out = Seq(
        "guarded" -> graft.queries.Dedup.MINHASH_MAX_BUCKET,
        "unguarded" -> Int.MaxValue).map { case (lbl, cap) =>
        val t0 = System.nanoTime()
        val r = graft.queries.Dedup.lshRecallFrom(docs, cap).collect()(0)
        println(f"[probe] lshrecall $lbl%-9s n_gt=${r.getLong(0)} " +
          s"n_cand=${r.getLong(1)} cand_hits=${r.getLong(2)} " +
          s"n_est=${r.getLong(3)} est_hits=${r.getLong(4)} " +
          s"recall_cand_mille=${r.getLong(5)} " +
          s"recall_est_mille=${r.getLong(6)} " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
        lbl -> r.getLong(1)
      }.toMap
      println(s"[probe] lshrecall guard_dropped_cands=" +
        s"${out("unguarded") - out("guarded")}")
      spark.stop(); return
    }
    if (name == "annrecall100") {
      // Recall at the survives-100x regime: IVF top-10 vs exact brute
      // cosine over the 200k-vector jittered corpus (AnnRecallSpec
      // gates the same construction at the x20 test regime; this probe
      // extends the claim to the scale the x100 timing rows come from).
      import org.apache.spark.sql.functions.col
      val p = Bench.prepareScaledEmb(spark, sfDir, 100)
      val e = spark.read.parquet(p)
      def sets(df: DataFrame): Map[Long, Set[Long]] = df.collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val exact = sets(graft.queries.Similarity.bruteTopkFrom(
        spark, e, Bench.scaledEmbQueryPred, topK = 10))
      val ivf = sets(graft.queries.Similarity.ivfTopkFrom(
        spark, e, Bench.scaledEmbQueryPred, topK = 10))
      val per = exact.map { case (q, t) =>
        ivf.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size }
      println(f"[probe] annrecall100: IVF recall@10 = ${per.sum / per.size}%.3f " +
        s"over ${exact.size} queries at ${e.count()} vectors")
      spark.stop(); return
    }
    if (name == "scaledstreamsnoop") {
      // Session replay with a NOOP sink: isolates the state-store path
      // (source -> watermark -> merging session state -> append
      // emission) from the memory sink's driver-side collect of ~1.9M
      // session rows — the split between "what scales with the
      // cluster" and "what the x20 probe pays for being observable".
      val p = Bench.prepareScaledEvents(spark, sfDir)
      val schema = spark.read.parquet(p).schema
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming.sessionCounts(
            spark.readStream.schema(schema).parquet(p))
          .writeStream.format("noop").outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try assert(q.awaitTermination(600000)) finally q.stop()
        println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }
    if (name == "scaledstreamsparquet" || name == "scaledstreamsparquet100") {
      // Session replay with a PARQUET sink — the production shape: the
      // ~1.9M (x20) / ~9.5M (x100) closed sessions stream straight to
      // distributed files, no driver-side memory-sink collect. The gap
      // vs scaledstreamsnoop is the real durable-write cost; the gap vs
      // scaledstreams* is the probe-observability cost the cluster
      // never pays.
      val f = if (name.endsWith("100")) 100 else 20
      val p = Bench.prepareScaledEvents(spark, sfDir, f)
      val schema = spark.read.parquet(p).schema
      (1 to reps).foreach { i =>
        val out = s"target/bench_scratch/stream_sessions_out_x$f"
        val ckpt = s"target/bench_scratch/stream_sessions_ckpt_x$f"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        val t0 = System.nanoTime()
        val q = graft.streaming.Streaming.sessionCounts(
            spark.readStream.schema(schema).parquet(p))
          .writeStream.format("parquet").outputMode("append")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try assert(q.awaitTermination(600000)) finally q.stop()
        val rows = spark.read.parquet(out).count()
        println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          s" — $rows session rows to parquet")
      }
      spark.stop(); return
    }
    if (name == "scaledstreamsrocks" || name == "scaledstreamsrocks100") {
      // The session-window replay on the RocksDB state store — the
      // provider a production cluster runs when streaming state
      // outgrows executor heap (the default HDFS-backed store keeps
      // every version in memory). Same query, same corpus as
      // scaledstreams*; only the provider changes, so the delta is the
      // store itself.
      val f = if (name.endsWith("100")) 100 else 20
      val p = Bench.prepareScaledEvents(spark, sfDir, f)
      val schema = spark.read.parquet(p).schema
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        graft.queries.EventsTime.sessionReplayOn(spark, schema, p)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } finally spark.conf
        .unset("spark.sql.streaming.stateStore.providerClass")
      spark.stop(); return
    }
    if (name == "scaledbpe" || name == "bpewide") {
      // BPE training at the scale regime, reporting distributed-round
      // count next to merge count — the batched selection's whole point
      // is rounds << merges (the sequential loop is one driver
      // round-trip PER merge).
      //
      //   scaledbpe: the x20 docs corpus. Its vocabulary is ~31 words,
      //     so training EXHAUSTS at ~100 merges — fine for timing the
      //     distributed pass, useless for deep-merge round counts.
      //   bpewide: the workload-A corpus (100k distinct words, 12M
      //     tokens) — the wide-vocabulary regime a real tokenizer
      //     trains on, supports thousands of merges.
      val nMerges = if (args.length > 1) args(1).toInt else 200
      import org.apache.spark.sql.functions.{col, count, lit, lower}
      val words = (if (name == "bpewide")
        spark.read.text(Bench.prepareRefCorpus(spark))
      else
        spark.read.parquet(Bench.prepareScaledDocs(spark, sfDir)))
        .select(graft.functions.TokenizeExplode
          .tokenize(spark, lower(col(if (name == "bpewide") "value" else "text")))
          .as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val (merges, rounds) =
          graft.queries.TextAnalysis.bpeTrainRounds(words, nMerges)
        println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          s" — ${merges.size} merges in $rounds rounds")
      }
      spark.stop(); return
    }
    if (name == "bpeprofile") {
      // Where does scaled_bpe_deep200's driver-round floor come from?
      // Per-round [merges-accepted, wall] breakdown of the deep-merge
      // workload (the bpewide corpus: 100k distinct words), swept over
      // the candidate-collect size topK. A larger K lowers the count
      // floor assumed for uncollected adjacent pairs, tightening the
      // created-pair bound — if rounds drop materially with K, the
      // floor is bound-limited (fixable); if not, it's symbol-conflict
      // limited (the documented floor of prefix-safe batching).
      val nMerges = if (args.length > 1) args(1).toInt else 200
      import org.apache.spark.sql.functions.{col, count, lit, lower}
      val words = spark.read.text(Bench.prepareRefCorpus(spark))
        .select(graft.functions.TokenizeExplode
          .tokenize(spark, lower(col("value"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      for (k <- Seq(256, 1024, 4096)) {
        val hist = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
        val t0 = System.nanoTime()
        val (merges, rounds) = graft.queries.TextAnalysis
          .bpeTrainRounds(words, nMerges, topK = k,
            onRound = (r, m, s) => hist += ((r, m, s)))
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[probe] bpeprofile topK=$k%4d: ${merges.size} merges " +
          f"in $rounds rounds, $wall%.1f s " +
          f"(mean ${wall / rounds}%.2f s/round)")
        println("[probe]   per-round merges: " +
          hist.map(_._2).mkString(","))
        println("[probe]   per-round wall_s: " +
          hist.map(h => f"${h._3}%.2f").mkString(","))
      }
      spark.stop(); return
    }
    if (name == "scaledparts") {
      // stage-by-stage timing of the CURRENT flat-column pair pipeline
      // (mirrors Dedup.minhashPairsFrom; the array-signature variant
      // this probe originally measured cost ~4x on the scoring stage
      // and is gone)
      val p = Bench.prepareScaledDocs(spark, sfDir)
      import org.apache.spark.sql.functions._
      val K = 16
      val base = graft.operators.DedupOps.minhashSignaturesFlat(
        spark.read.parquet(p), "doc_id", col("text"), 3, K)
      def bandKey(b: Int) = xxhash64(lit(b), concat_ws("|",
        (0 until 4).map(r => col(s"_m${b * 4 + r}").cast("string")): _*))
      val banded = base.select(col("doc_id"),
        explode(array((0 until 4).map(bandKey): _*)).as("bh"))
      val n = spark.sessionState.conf.numShufflePartitions
      val a = banded.select(col("bh"), col("doc_id").as("a_id")).repartition(n, col("bh"))
      val b = banded.select(col("bh"), col("doc_id").as("b_id")).repartition(n, col("bh"))
      val pairs = a.join(b, Seq("bh")).filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
      def time(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      time("pairs+dedup only")(pairs)
      val aSig = broadcast(base.select(col("doc_id").as("a_id") +:
        (0 until K).map(i => col(s"_m$i").as(s"a_m$i")): _*))
      val bSig = broadcast(base.select(col("doc_id").as("b_id") +:
        (0 until K).map(i => col(s"_m$i").as(s"b_m$i")): _*))
      time("pairs+dedup+joins")(pairs.join(aSig, Seq("a_id")).join(bSig, Seq("b_id"))
        .select("a_id", "b_id"))
      val matches = (0 until K)
        .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
        .reduce(_ + _)
      time("full incl est")(pairs.join(aSig, Seq("a_id")).join(bSig, Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          (matches.cast("double") / K.toDouble).as("e"))
        .filter(col("e") >= 0.5))
      spark.stop(); return
    }
    if (name == "scaledcount") {
      val p = Bench.prepareScaledDocs(spark, sfDir)
      import org.apache.spark.sql.functions._
      val base = graft.operators.DedupOps.minhashSignatures(
        spark.read.parquet(p), "doc_id", col("text"), 3, 16)
      val banded = base.select(col("doc_id"), col("sig"),
          posexplode(graft.operators.DedupOps.bandKeys(col("sig"), 4, 4)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      val a = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"))
      val b = banded.select(col("band"), col("bkey"), col("doc_id").as("b_id"))
      val raw = a.join(b, Seq("band", "bkey")).filter(col("a_id") < col("b_id"))
      println(s"[probe] raw pairs: ${raw.count()}")
      println(s"[probe] uniq pairs: ${raw.select("a_id", "b_id").distinct().count()}")
      spark.stop(); return
    }
    if (name == "refcold") {
      // Decompose ref_wordcount_12m_cold: replicate Bench's EXACT
      // warmup (q_topk + both plan shapes on the 1/16 warm corpus x2),
      // then stage-instrument the FIRST full-scale run — the one the
      // bench reports as *_cold — and two follow-ups for contrast.
      import org.apache.spark.sql.functions.{col, sum}
      Bench.prepareRefCorpus(spark)
      val refPath = "target/bench_scratch/ref_corpus_12m"
      SparkEntry.queries("q_topk")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val warmPath = Bench.prepareWarmCorpus(spark)
      (1 to 2).foreach { _ =>
        val warmLines = spark.read
          .format("graft.sources.ChunkedTextSource").load(warmPath)
        graft.plans.TokenCounts.partialCounts(warmLines, col("value"))
          .groupBy("word").agg(sum(col("cnt")).as("cnt"))
          .repartition(1).sortWithinPartitions("word")
          .write.mode("overwrite").format("noop").save()
        Bench.refWordcount12m(spark, warmPath)
          .write.mode("overwrite").format("noop").save()
      }
      val warmFullPath = Bench.prepareWarmCorpusFull(spark)
      (1 to 2).foreach(_ => Bench.refWordcount12m(spark, warmFullPath)
        .write.mode("overwrite").format("noop").save())
      Bench.pageTouch(refPath)
      spark.sparkContext.addSparkListener(stageListener)
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        Bench.refWordcount12m(spark, refPath)
          .write.mode("overwrite").format("noop").save()
        println(f"[probe] refcold run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      Thread.sleep(2000)
      spark.stop(); return
    }
    if (name == "refab") {
      // interleaved A/B in ONE JVM: declarative counts (range sort)
      // vs sortedCounts (single-partition tail) — JIT/GC state shared
      val p = Bench.prepareRefCorpus(spark)
      import org.apache.spark.sql.functions.col
      for (i <- 1 to reps) {
        for ((lbl, mkq) <- Seq(
          "old-rangesort" -> (() => graft.plans.TokenCounts.counts(
            spark.read.text(p), col("value"))),
          "new-singletail" -> (() => graft.plans.TokenCounts.sortedCounts(
            spark.read.text(p), col("value"))))) {
          val t0 = System.nanoTime()
          mkq().write.mode("overwrite").format("noop").save()
          println(f"[probe] refab $lbl round $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      }
      spark.stop(); return
    }
    if (name == "refsweep") {
      // one JVM, alternating maxPartitionBytes: JIT/GC state is shared,
      // so differences are attributable to the scan split size
      val p = Bench.prepareRefCorpus(spark)
      for (i <- 1 to reps; m <- Seq(8L, 16L, 32L, 64L)) {
        spark.conf.set("spark.sql.files.maxPartitionBytes", (m << 20).toString)
        val t0 = System.nanoTime()
        Bench.refWordcount12m(spark, p).write.mode("overwrite").format("noop").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] refsweep ${m}MB round $i: $s%.3f s")
      }
    } else if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      // Write the formatted physical plan of the named workload to the
      // given path (the plans/r17 evidence files) instead of timing it.
      val out = sys.env("SPARK_GRAFT_EXPLAIN")
      val plan = mk().queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        plan.getBytes("UTF-8"))
      println(s"[probe] $name plan -> $out")
    } else for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      mk().write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name run $i: $s%.3f s")
    }
    spark.stop()
  }
}
