package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Bench.{Job, Workload, frameJob, noRelease, releasableJob}
import graft.queries.{Dedup, Similarity}

/** Times one named workload repeatedly to find its steady state.
  * Usage: runMain graft.BenchProbe <name> [reps]
  *
  * A name is looked up (see [[resolve]]) as a row of [[Bench.table]],
  * a registry query, or one of the [[probeOnly]] checks; a reference
  * row runs after the sweep's [[Bench.warmUp]]. Its prepare step runs
  * once, untimed, and prints its own line; then `reps` runs (default:
  * the row's own count) are timed, each followed by its release hook.
  * Run 1 is printed as `run 1 (cold)`, a closing `warm:` line gives the
  * min and median of runs 2..N (see [[warmLine]]), and the row's report
  * entries follow, one line each. A refused row prints its reason.
  *
  * SPARK_GRAFT_STAGES=1 prints one line per stage of the timed runs;
  * SPARK_GRAFT_EXPLAIN=<path> runs one frame once, untimed, and writes
  * its formatted final (adaptive) plan, with the custom operators'
  * metrics, to `path` (`/dev/stdout` works) instead of timing;
  * SPARK_GRAFT_CONF sets session confs (see [[parseConf]]).
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
    val name = args.headOption.getOrElse("ref_wordcount_12m")
    val (w, factor) = resolve(name)
    val reps = if (args.length > 1) args(1).toInt else w.reps
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      parseConf(_).foreach { case (k, v) => spark.conf.set(k, v) })
    try {
      if (Bench.reference.contains(w)) Bench.warmUp(spark, sfDir)
      probe(name, w, factor, reps, spark, sfDir)
    } finally spark.stop()
  }

  /** Checks that are not sweep rows; each prints what it measured. */
  val probeOnly: Seq[Workload] = Seq(
    // The x20 k-NN graph, timed after asserting the O(n^1.5) pair bound
    // from the REALIZED cluster sizes: the scored-pair count is the sum
    // over clusters of sz*(sz-1), which for balanced k = sqrt(n) clusters
    // is exactly n^1.5; the slack factor covers Lloyd imbalance on the
    // planted-clique corpus. The bound failing would mean the
    // partitioning degenerated into a few giant clusters, i.e. the
    // all-pairs n^2 the construction exists to avoid.
    Workload("scaledknng", 2, (s, d, f) => {
      val e = s.read.parquet(Bench.prepareScaledEmb(s, d, f))
      val n = e.count()
      val k = Similarity.semanticDedupKOf(n)
      val scored = Similarity.kmeansAssignFrom(e, k)
        .groupBy("c").agg(count(lit(1)).as("sz"))
        .agg(sum(col("sz") * (col("sz") - 1)).as("sp"))
        .collect()(0).getAs[Long]("sp")
      val bound = math.pow(n.toDouble, 1.5)
      println(f"[probe] scaledknng n=$n k=$k scoredPairs=$scored " +
        f"n^1.5=$bound%.0f ratio=${scored / bound}%.2f")
      assert(scored <= 20 * bound,
        f"scored-pair bound blown: $scored > 20*n^1.5 (${20 * bound}%.0f)")
      frameJob(Similarity.knnGraphFrom(s, e))
    }),
    // The degree-ordered orientation's wedge bound at x20, then the
    // triangle pass itself: the oriented wedge stream must stay far
    // below the naive apex stream (sum of deg*(deg-1)) an unoriented
    // algorithm generates — on the 20-clique corpus the exact ratio is 3
    // (C(20,3) oriented wedges per clique vs 20*C(19,2) naive), and on
    // skewed graphs the gap is the whole "curse of the last reducer"
    // claim.
    Workload("scaledtribound", 2, (s, d, f) => {
      val pairs = Bench.pairGraph(s.read.parquet(Bench.prepareScaledDocs(s, d, f)))
        .localCheckpoint(true)
      val oriented2 = Dedup.orientedWedgeVolume2(pairs)
      val degs = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .agg(coalesce(sum(col("degree") * (col("degree") - 1)), lit(0L)),
          coalesce(max("degree"), lit(0L)))
        .collect()(0)
      val (naive2, maxDeg) = (degs.getLong(0), degs.getLong(1))
      println(f"[probe] scaledtribound orientedWedges2=$oriented2 " +
        f"naiveWedges2=$naive2 ratio=${naive2.toDouble / oriented2}%.2f " +
        s"maxDeg=$maxDeg")
      assert(2 * oriented2 <= naive2,
        s"orientation gained < 2x on wedges: $oriented2 vs naive $naive2")
      releasableJob(() => Dedup.trianglesFromPairsReleasable(pairs))
        .copy(done = graft.plans.RoundLoop.releaser(pairs))
    }),
    // Measured recall of the banded-LSH near-dup pipeline vs exact
    // PPJoin ground truth at the same threshold (J >= 0.5 over word
    // trigrams) on the x20 corpus — guarded vs unguarded, so the
    // hot-bucket guard's deliberately dropped candidates are priced
    // (n_cand delta) alongside what they cost in recall.
    Workload("lshrecall", 1, (s, d, f) => {
      val p = Bench.prepareScaledDocs(s, d, f)
      Job(() => {
        val docs = s.read.parquet(p)
        val cands = Seq("guarded" -> Dedup.MINHASH_MAX_BUCKET,
          "unguarded" -> Int.MaxValue).map { case (lbl, cap) =>
          val r = Dedup.lshRecallFrom(docs, cap).collect()(0)
          println(f"[probe] lshrecall $lbl%-9s n_gt=${r.getLong(0)} " +
            s"n_cand=${r.getLong(1)} cand_hits=${r.getLong(2)} " +
            s"n_est=${r.getLong(3)} est_hits=${r.getLong(4)} " +
            s"recall_cand_mille=${r.getLong(5)} " +
            s"recall_est_mille=${r.getLong(6)}")
          r.getLong(1)
        }
        println(s"[probe] lshrecall guard_dropped_cands=${cands(1) - cands(0)}")
        noRelease
      })
    }),
    // Recall at the survives-100x regime: IVF top-10 vs exact brute
    // cosine over the 200k-vector jittered corpus (AnnRecallSpec gates
    // the same construction at the x20 test regime; this extends the
    // claim to the scale of the x100 rows).
    Workload("annrecall100", 1, (s, d, _) => {
      val e = s.read.parquet(Bench.prepareScaledEmb(s, d, 100))
      Job(() => {
        def sets(df: DataFrame): Map[Long, Set[Long]] = df.collect()
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val exact = sets(Similarity.bruteTopkFrom(
          s, e, Bench.scaledEmbQueryPred, topK = 10))
        val ivf = sets(Similarity.ivfTopkFrom(
          s, e, Bench.scaledEmbQueryPred, topK = 10))
        val per = exact.map { case (q, t) =>
          ivf.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size }
        println(f"[probe] annrecall100: IVF recall@10 = ${per.sum / per.size}%.3f " +
          s"over ${exact.size} queries at ${e.count()} vectors")
        noRelease
      })
    }))

  /** The workload `name` names and the scale factor to prepare it at:
    * the `_x100` twin of a [[Bench.scaled]] row (that row at factor 100,
    * ahead of the sweep's own x100 rows of the same name), a row of
    * [[Bench.table]], a registry query, or a [[probeOnly]] check.
    */
  def resolve(name: String): (Workload, Int) = {
    val twin = Some(name).filter(_.endsWith("_x100")).flatMap(n =>
      Bench.scaled.find(_.name == n.stripSuffix("_x100") + "_x20"))
    val found = twin.map(_ -> 100)
      .orElse(Bench.table.find(_.name == name).map(_ -> 20))
      .orElse(Some(name).filter(SparkEntry.queries.contains)
        .map(Bench.queryRow(_, 5) -> 20))
      .orElse(probeOnly.find(_.name == name).map(_ -> 20))
    val rows = Bench.table.map(_.name).filterNot(Bench.headline.contains)
    require(found.isDefined, s"unknown probe name '$name'; a name is looked " +
      "up as (1) a Bench.scaled row's _x20 name with _x100, for factor 100; " +
      s"(2) a sweep row: ${rows.mkString(", ")}; (3) a SparkEntry.queries " +
      "name (the sweep's headline queries among them); (4) a probe-only " +
      s"check: ${probeOnly.map(_.name).mkString(", ")}")
    found.get
  }

  /** Prepares `w` at `factor` once — untimed, its wall printed on its own
    * line — then times `reps` runs, or runs once and writes the final
    * plan when SPARK_GRAFT_EXPLAIN is set. The per-run seconds.
    */
  def probe(name: String, w: Workload, factor: Int, reps: Int,
      spark: SparkSession, sfDir: String): Seq[Double] = {
    val t0 = System.nanoTime()
    val prepared = w.prepare(spark, sfDir, factor)
    println(f"[probe] $name prepare: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    (prepared, sys.env.get("SPARK_GRAFT_EXPLAIN")) match {
      case (Bench.Refused(why), _) =>
        println(s"[probe] $name refused: $why")
        Seq.empty
      case (job: Job, Some(out)) =>
        try {
          require(job.plan.isDefined, s"$name runs no single frame to explain")
          val qe = job.plan.get().queryExecution
          qe.toRdd.foreach(_ => ())
          val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(java.nio.file.Paths.get(out),
            plan.getBytes("UTF-8"))
          println(s"[probe] $name plan -> $out")
        } finally job.done()
        Seq.empty
      case (job: Job, None) =>
        // registered after prepare, so the stage lines are the runs'
        if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
          spark.sparkContext.addSparkListener(stageListener)
        var i = 0
        val secs = Bench.measure(job, reps) { body =>
          i += 1
          val sec = Bench.seconds(body)
          val run = if (i == 1) "run 1 (cold)" else s"run $i"
          println(f"[probe] $name $run: $sec%.3f s")
          sec
        }
        println(warmLine(name, secs))
        if (secs.nonEmpty) {
          val r = job.report(secs)
          (r.queries.map { case (k, v) => k -> Bench.jNum(v) } ++ r.info)
            .foreach { case (k, v) => println(s"[probe] $name $k=$v") }
        }
        secs
    }
  }

  /** Run 1 of a fresh JVM pays first-execution cost (class loading,
    * codegen, JIT) on top of the query, so the probe's steady-state
    * reading is over runs 2..N only. */
  def warmLine(name: String, secs: Seq[Double]): String =
    if (secs.size < 2) s"[probe] $name warm: cold only"
    else f"[probe] $name warm: min ${secs.tail.min}%.3f s, median " +
      f"${Bench.median(secs.tail)}%.3f s over runs 2..${secs.size}"
}
