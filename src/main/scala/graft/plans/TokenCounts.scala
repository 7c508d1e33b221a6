package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{col, count => fcount, lit, sum}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Tokens

/** Fused tokenize + partial-count physical operator: the reference's
  * entire worker pipeline (scan range -> FSM -> upsert into a count map,
  * /root/reference/src/main.c:192-269 + chash.c:100-153) as ONE
  * SparkPlan. Emits per-partition partial (word, cnt) pairs; the final
  * merge is ordinary `groupBy(word).sum` — i.e. the reference's shared
  * concurrent hash map is replaced by Spark's shuffle, with this
  * operator playing the role of one worker thread per partition.
  *
  * vs. the generator formulation (TokenizeExplode -> HashAggregate):
  * no per-token row hop through Generate — a 12M-token partition emits
  * ~|vocab| partial rows instead of 12M generated rows. Mirrors the
  * reference's key-copy discipline: the probe key is a zero-copy slice
  * of the scan buffer; bytes are copied only on first insert
  * (chash.c:163-165).
  */
case class TokenCounts(text: Expression, child: LogicalPlan,
    // constructor param (not a val body) so exprIds survive tree copies
    output: Seq[Attribute] = Seq(
      AttributeReference("word", StringType, nullable = false)(),
      AttributeReference("cnt", LongType, nullable = false)()))
  extends UnaryNode {
  // this node *produces* its output (generator-style), nothing passes through
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCounts =
    copy(child = newChild)
}

/** Open-addressing (word -> count) map over byte slices: probe keys are
  * (array, offset, len) views of the input line — ZERO allocation per
  * token; key bytes are copied into a growable arena only on first
  * insert (the reference's key-copy discipline, chash.c:163-165, minus
  * its per-bucket mutexes — one map per partition, no sharing). Linear
  * probing + cached hashes; doubles at 60% load.
  *
  * Allocation-free probing matters beyond CPU: the generic
  * HashMap[UTF8String,_] formulation allocated ~12M probe objects per
  * 12M-token run, and that churn is what made GC heuristics on very
  * large heaps (driver-overridden -Xmx) collapse throughput 4-10x.
  */
private final class ByteSliceCounter(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var mask = cap - 1
  private var table = new Array[Int](cap) // zero-filled; 0 = empty, entry e stored as e+1
  private var size = 0

  // parallel entry arrays (index = insertion order)
  private var hashes = new Array[Int](cap / 2)
  private var offs = new Array[Int](cap / 2)
  private var lens = new Array[Int](cap / 2)
  private var cnts = new Array[Long](cap / 2)
  private var arena = new Array[Byte](1 << 16)
  private var arenaPos = 0

  @inline private def hash(b: Array[Byte], start: Int, len: Int): Int = {
    var h = 0x811c9dc5 // FNV-1a
    var i = start
    val end = start + len
    while (i < end) { h = (h ^ b(i)) * 0x01000193; i += 1 }
    h
  }

  @inline private def eq(e: Int, b: Array[Byte], start: Int, len: Int): Boolean = {
    if (lens(e) != len) return false
    var i = 0
    val o = offs(e)
    while (i < len) { if (arena(o + i) != b(start + i)) return false; i += 1 }
    true
  }

  def add(b: Array[Byte], start: Int, len: Int): Unit = {
    val h = hash(b, start, len)
    var idx = h & mask
    while (true) {
      val slot = table(idx)
      if (slot == 0) { insert(idx, h, b, start, len); return }
      val e = slot - 1
      if (hashes(e) == h && eq(e, b, start, len)) { cnts(e) += 1; return }
      idx = (idx + 1) & mask
    }
  }

  private def insert(idx: Int, h: Int, b: Array[Byte], start: Int, len: Int): Unit = {
    if (size == hashes.length) {
      val n = size * 2
      hashes = java.util.Arrays.copyOf(hashes, n)
      offs = java.util.Arrays.copyOf(offs, n)
      lens = java.util.Arrays.copyOf(lens, n)
      cnts = java.util.Arrays.copyOf(cnts, n)
    }
    while (arenaPos + len > arena.length)
      arena = java.util.Arrays.copyOf(arena, arena.length * 2)
    System.arraycopy(b, start, arena, arenaPos, len)
    hashes(size) = h; offs(size) = arenaPos; lens(size) = len; cnts(size) = 1L
    arenaPos += len
    table(idx) = size + 1
    size += 1
    if (size * 5 > cap * 3) grow()
  }

  private def grow(): Unit = {
    cap *= 2; mask = cap - 1
    table = new Array[Int](cap)
    var e = 0
    while (e < size) {
      var idx = hashes(e) & mask
      while (table(idx) != 0) idx = (idx + 1) & mask
      table(idx) = e + 1
      e += 1
    }
  }

  /** Count every token of `b` ([[graft.functions.Tokens]]): the
    * engine's one counting loop, timed as-is by [[MicroProbe]]. */
  def addTokens(b: Array[Byte]): Unit = {
    val len = b.length
    var t = Tokens.next(b, 0, len)
    while (t >= 0) {
      val s = Tokens.start(t)
      val e = Tokens.end(t)
      add(b, s, e - s)
      t = Tokens.next(b, e, len)
    }
  }

  def entryCount: Int = size
  def entryKey(e: Int): UTF8String = UTF8String.fromBytes(arena, offs(e), lens(e))
  def entryCnt(e: Int): Long = cnts(e)
}

case class TokenCountsExec(text: Expression, output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val textExpr = text
    val childOutput = child.output
    child.execute().mapPartitions({ rows =>
      val bound = BindReferences.bindReference(textExpr, childOutput)
      val counts = new ByteSliceCounter(1 << 15)
      rows.foreach { row =>
        val s = bound.eval(row).asInstanceOf[UTF8String]
        if (s != null) counts.addTokens(s.getBytes)
      }
      // emit UnsafeRows (downstream agg/exchange consume without
      // per-row conversion); projection buffer is safely reused
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(Array[org.apache.spark.sql.types.DataType](StringType, LongType))
      val out = new GenericInternalRow(2)
      (0 until counts.entryCount).iterator.map { e =>
        out.update(0, counts.entryKey(e))
        out.update(1, counts.entryCnt(e))
        proj(out): InternalRow
      }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsExec =
    copy(child = newChild)
}

object TokenCountsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case tc @ TokenCounts(text, child, out) =>
      TokenCountsExec(text, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TokenCounts {

  def register(spark: SparkSession): Unit = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!ss.experimental.extraStrategies.contains(TokenCountsStrategy))
      ss.experimental.extraStrategies =
        ss.experimental.extraStrategies :+ TokenCountsStrategy
  }

  /** Per-partition partial token counts of `textCol`. */
  def partialCounts(df: DataFrame, textCol: Column): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val withText = df.select(textCol.as("__graft_text"))
    val plan = withText.queryExecution.analyzed
    GraftShims.ofRows(spark,
      TokenCounts(plan.output.find(_.name == "__graft_text").get, plan))
  }

  /** Full fused word count: partials -> merge -> bytewise order.
    *
    * Declarative formulation, kept as the general path: Catalyst plans
    * Exchange(hash) + HashAgg + Exchange(rangepartitioning) + Sort,
    * where the range exchange's sampling job re-executes the aggregate.
    */
  def counts(df: DataFrame, textCol: Column): DataFrame =
    partialCounts(df, textCol)
      .groupBy("word")
      .agg(sum("cnt").as("cnt"))
      .orderBy("word")

  /** Inputs below this are "tiny": the whole job floor (task launch,
    * shuffle-file churn, per-stage scheduling) dominates compute, so
    * the plan collapses to few-tasks-then-one. 64 MB = a handful of
    * splits at [[TinySplitBytes]]; above it the distributed merge
    * shapes win. */
  private val TinyInputBytes = BigInt(64L << 20)
  /** Scan granularity for the tiny path: enough splits to engage a few
    * cores, few enough that per-task overhead stays invisible. */
  private val TinySplitBytes = 4L << 20

  /** Reference-parity sorted word count: partials -> distributed merge
    * agg -> ONE-partition sort of the aggregated vocabulary.
    *
    * This is the exact shape of the reference program — N workers feed
    * one hash map, then a single qsort over the distinct words
    * (main.c:150-170) — and it is strictly cheaper than `counts` when
    * the consumer is a single ordered stream anyway (stdout, CLI
    * collect): Catalyst's `orderBy` plans a RangePartitioning exchange
    * whose boundary-sampling pass RE-EXECUTES the merge aggregate, the
    * dominant post-scan cost. Here the aggregate runs once and the
    * final exchange moves only the aggregated vocabulary (|V| rows, not
    * tokens) into one partition for the sort.
    *
    * Cost-based DOP: when the optimizer's size estimate says the input
    * is tiny (< 64 MB), the fixed per-task floor is the whole cost —
    * measured on the 12 MB skew corpus, 32 map tasks spent ~40 ms EACH
    * writing a 24-row shuffle map output. So the tiny path coalesces
    * the scan to ceil(bytes / 4 MB) tasks and merges through ONE
    * SinglePartition exchange (which satisfies the aggregate's
    * ClusteredDistribution, so agg + sort fuse into the same final
    * stage): 2 stages, k+1 tasks, 1 exchange. Partial rows are bounded
    * by k * |vocab| with k <= 16, so the single merge task stays
    * trivially small. Unknown/derived-stats inputs estimate huge and
    * take the distributed shape — the safe direction.
    *
    * Scale contract: the tail is O(|V| log |V|) in ONE task — right
    * whenever the sorted result is consumed as a single stream (which
    * caps |V| at what the consumer can hold anyway). For a distributed
    * sorted RESULT (huge vocabularies, downstream parallel reads), use
    * `counts`: its sampled range exchange keeps the sort parallel.
    *
    * A static (sampling-free) monotone prefix partitioner was tried and
    * rejected: any fixed byte-prefix bucketing collapses on common-
    * prefix vocabularies (measured: a "w#####" vocab lands entirely in
    * one bucket), which is precisely the skew that sampling adapts to.
    */
  def sortedCounts(df: DataFrame, textCol: Column,
      minParts: Int = 0): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < TinyInputBytes) {
      // an explicit caller DOP (the CLI's num_threads knob) is a floor:
      // cost-based coalescing must not silently discard it
      val parts = (((bytes + TinySplitBytes - 1) / TinySplitBytes).toInt max 1)
        .max(minParts)
      partialCounts(df.coalesce(parts), textCol)
        .repartition(1)
        .groupBy("word")
        .agg(sum("cnt").as("cnt"))
        .sortWithinPartitions("word")
    } else
      partialCounts(df, textCol)
        .groupBy("word")
        .agg(sum("cnt").as("cnt"))
        .repartition(1)
        .sortWithinPartitions("word")
  }
}
