package graftbench

import java.io.File

import org.apache.spark.sql.{BenchShims, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark driver: one client thread submits a workload's
  * iterations back to back in one JVM with fixed task slots and shuffle
  * width, checks every output, and prints one JSON result line.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  */
object Main {
  /** Task slots (local[Slots]): one core of four stays free for the
    * driver thread, the collector and the listener bus. */
  val Slots = 3
  /** Fixed shuffle width. */
  val ShufflePartitions = 8
  /** Input preparation runs this often; setup reports the median. */
  val PrepReps = 3
  val MinWarmup = 2
  val MaxWarmup = 8
  /** Warm-up stops once an iteration is no more than this much faster
    * than the fastest one before it. */
  val SteadyGain = 0.03
  /** Fewest timed iterations per measurement: a run of `graph_rounds`
    * (about 4 s an iteration) takes five, so one or two iterations
    * caught in a slow spell of the host do not move its median. */
  val MinIters = 5
  /** Fewest timed iterations in each half of a traced run. */
  val MinTracedIters = 2

  val PerLayer = Seq(
    "sources.scan_s", "plans.token_counts_s", "plans.token_counts.rows_out",
    "operators.wordcount.merge_sort_s", "driver.collect_s",
    "operators.dedup_ops.signatures_s", "queries.dedup.pairs_self_s",
    "queries.dedup.band_join_rows", "queries.dedup.unique_pairs",
    "queries.dedup.candidate_waste",
    "driver.jobs", "driver.stages", "driver.idle_s", "queries.dedup.cc_rounds",
    "cc_s", "lpa_s",
    "exchange.shuffle_write_mb", "exchange.shuffle_read_mb", "exchange.fetch_wait_s",
    "exchange.spill_mb", "exec.task_cpu_s", "exec.gc_s", "exec.max_task_s",
    "exec.median_task_s", "exec.slot_util", "exec.peak_exec_mem_mb",
    "trace.iter_s", "trace.overhead_s", "fail_frac")

  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  /** One timed iteration: its wall time, its span, and the largest task
    * peak execution memory seen while it ran. */
  case class Timed(seconds: Double, span: Span, peakMem: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(m.getOrElse("work", ".work")))
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Keeps the last executed plan, for the per-operator row counts. */
  final class PlanCatcher extends QueryExecutionListener {
    @volatile var last: Option[SparkPlan] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last = Some(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load0 = loadAvg()
    val t0 = System.nanoTime()
    val spark = graft.Engine.builder(s"local[$Slots]", ShufflePartitions)
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val plans = new PlanCatcher
    spark.listenerManager.register(plans)
    val sessionS = Workloads.seconds(System.nanoTime() - t0)
    val code = try run(o, spark, listener, plans, sessionS, load0) finally spark.stop()
    sys.exit(code)
  }

  def run(o: Opts, spark: SparkSession, listener: BenchListener, plans: PlanCatcher,
      sessionS: Double, load0: Double): Int = {
    val w = Workloads(o.workload, spark, o.seed, new File(o.work, "data"))
    val sc = spark.sparkContext
    val store = new SpanStore
    def log(s: String): Unit = System.err.println(s"[bench ${w.name}] $s")

    // ---- setup: inputs (PrepReps times, identical each time), the
    // reference answer, warm-up ----
    val preps = (1 to PrepReps).map { _ =>
      val t = System.nanoTime()
      val d = w.prepare()
      (Workloads.seconds(System.nanoTime() - t), d)
    }
    val deterministic = preps.map(_._2).distinct.size == 1
    log(f"prepare ${preps.map(_._1).map(x => f"$x%.3f").mkString(" ")} s, digest ${preps.head._2}, same=$deterministic")
    val tRef = System.nanoTime()
    val ref = w.reference()
    val refS = Workloads.seconds(System.nanoTime() - tRef)
    log(f"reference $refS%.3f s: ${ref.detail}")
    val keep = sc.getPersistentRDDs.keySet

    var failed = 0
    var attempted = 0
    def iteration(traced: Boolean): (Double, Check, Span) = {
      listener.reset()
      listener.full = traced
      plans.last = None
      val (it, check) = w.iterate(store)
      BenchShims.drainListenerBus(spark)
      listener.full = false
      // release what the iteration left pinned, then start the next one
      // from the same heap state
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
      (Workloads.seconds(it.dur), check, it)
    }

    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    var warmOk = true
    val tWarm = System.nanoTime()
    var steady = false
    while (!steady) {
      val (t, c, _) = iteration(traced = false)
      warmOk &&= c.ok
      warm += t
      val n = warm.size
      steady = n >= MaxWarmup ||
        (n >= MinWarmup && warm(n - 1) >= warm.init.min * (1 - SteadyGain)) ||
        Workloads.seconds(System.nanoTime() - tWarm) > o.seconds
    }
    val warmS = Workloads.seconds(System.nanoTime() - tWarm)
    log(f"warm-up ${warm.map(x => f"$x%.3f").mkString(" ")} s")
    val setupS = sessionS + Stats.median(preps.map(_._1)) + refS + warmS

    // ---- measurement ----
    val views = scala.collection.mutable.ArrayBuffer.empty[IterView]
    def measure(budget: Double, traced: Boolean): Seq[Timed] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Timed]
      val start = System.nanoTime()
      val least = if (o.trace) MinTracedIters else MinIters
      while (out.size < least || Workloads.seconds(System.nanoTime() - start) < budget) {
        val (t, c, s) = iteration(traced)
        attempted += 1
        if (!c.ok) { failed += 1; log(s"check failed: ${c.detail}") }
        out += Timed(t, s, listener.peakExecMem)
        if (traced) {
          val v = view(s)
          // the listener's jobs and stages join the span tree under the
          // iteration, so the written trace holds them too
          v.jobs.foreach(j => store.add(s.id, s"job ${j.jobId}: ${j.name}", j.start, j.end))
          v.stages.foreach(t => store.add(s.id, s"stage ${t.stageId}: ${t.name}", t.submit, t.complete))
          views += v
        }
      }
      out.toSeq
    }
    def view(s: Span): IterView = {
      val spans = store.all.filter(x => x.start >= s.start && x.end <= s.end)
      val v = IterView(s, spans, Nil, Nil, Nil, plans.last)
      v.copy(
        tasks = listener.taskRecs.filter(t => v.within(s, t.launch, t.finish)),
        stages = listener.stageRecs.filter(t => v.within(s, t.submit, t.complete)),
        jobs = listener.jobRecs.filter(j => v.within(s, j.start, j.end)))
    }

    val untraced = measure(if (o.trace) o.seconds / 2 else o.seconds, traced = false)
    val iterS = Stats.median(untraced.map(_.seconds))
    log(f"iterations ${untraced.map(_.seconds).map(x => f"$x%.3f").mkString(" ")} s; median $iterS%.4f")
    def correct = deterministic && ref.ok && warmOk && failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("iter_s", iterS, "s"),
        ("input_mb_per_s", w.inputMb / iterS, "MB/s"))
      else {
        val parts = untraced.map(x => w.parts(view(x.span)))
        val traced = measure(o.seconds / 2, traced = true)
        val tracedS = Stats.median(traced.map(_.seconds))
        val layers = views.toSeq.map(v => generic(v) ++ w.traced(v))
        val probes = w.probes(store)
        def med(rows: Seq[Map[String, Double]], k: String): Option[Double] =
          rows.flatMap(_.get(k)) match { case Seq() => None; case xs => Some(Stats.median(xs)) }
        val named = PerLayer.map { k =>
          val v = k match {
            case "trace.iter_s" => Some(tracedS)
            case "exec.peak_exec_mem_mb" => Some(Stats.median(traced.map(_.peakMem.toDouble)) / 1e6)
            case "trace.overhead_s" => Some(tracedS - iterS)
            case "fail_frac" => Some(failed.toDouble / attempted)
            case _ => probes.get(k).orElse(med(layers, k)).orElse(med(parts, k))
          }
          (k, v.getOrElse(0.0), unit(k))
        }
        val traceFile = new File(o.work, s"trace/${w.name}_${o.seed}.jsonl")
        store.writeJsonLines(traceFile)
        log(s"spans written to $traceFile")
        named
      }

    val inputMb = w.inputMb
    w.close()
    val load1 = loadAvg()
    val info = Seq(
      "workload" -> s""""${w.name}"""", "seed" -> o.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "slots" -> Slots.toString, "shuffle_partitions" -> ShufflePartitions.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "load_avg_start" -> load0.toString, "load_avg_end" -> load1.toString,
      "input_mb" -> inputMb.toString, "warmup_iters" -> warm.size.toString,
      "iters" -> untraced.size.toString, "setup_reps" -> PrepReps.toString)
    println(info.map { case (k, v) => s""""$k": $v""" }.mkString("{\"info\": {", ", ", "}}"))
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      ms.mkString("\"metrics\": {", ", ", "}}"))
    0
  }

  def unit(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k == "exec.slot_util" || k == "fail_frac" || k == "queries.dedup.candidate_waste") "ratio"
    else "count"

  /** Per-layer numbers every workload has, from one traced iteration. */
  def generic(v: IterView): Map[String, Double] = {
    val ts = v.tasks
    val wall = Workloads.seconds(v.iter.dur)
    val run = ts.map(_.runMs / 1e3)
    Map(
      "driver.jobs" -> v.jobs.size.toDouble,
      "driver.stages" -> v.stages.size.toDouble,
      "driver.idle_s" -> Workloads.seconds(
        Stats.selfTime(v.iter.start, v.iter.end, ts.map(t => (t.launch, t.finish)))),
      "exchange.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "exchange.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1e6,
      "exchange.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "exchange.spill_mb" -> ts.map(_.diskSpill).sum / 1e6,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.max_task_s" -> (if (run.isEmpty) 0.0 else run.max),
      "exec.median_task_s" -> (if (run.isEmpty) 0.0 else Stats.median(run)),
      "exec.slot_util" -> (if (wall > 0) run.sum / (Slots * wall) else 0.0))
  }
}
