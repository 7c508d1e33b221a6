package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Tokens

/** Fused tokenize + partial-count physical operator: the reference's
  * entire worker pipeline (scan range -> FSM -> upsert into a count map,
  * /root/reference/src/main.c:192-269 + chash.c:100-153) as ONE
  * SparkPlan. Emits per-partition partial (word, cnt) pairs, unique per
  * word; [[TokenCountsMerge]] sums them after a hash exchange on word —
  * i.e. the reference's shared concurrent hash map is replaced by
  * Spark's shuffle, with this operator playing the role of one worker
  * thread per partition.
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

/** Open-addressing (word -> count) map over byte slices, one per task:
  * the reference's count map (chash.c:100-153) minus its per-bucket
  * mutexes. Probe keys are read straight from the caller's array, so
  * counting allocates nothing per token.
  *
  * Slot `s` is four longs, `slots(4s .. 4s+3)` = key word a, key word b,
  * count, arena offset. A key of at most [[ByteSliceCounter.InlineMax]]
  * bytes lives in the slot itself: `a` holds bytes 0-7 and `b` bytes
  * 8-14, little-endian and zero-padded, with `len + 1` in b's top byte,
  * so any byte string (NULs included) has exactly one encoding and
  * `b == 0` marks an empty slot. A longer key is copied into a byte
  * arena on first insert (chash.c:163-165); its slot holds a 64-bit
  * hash of the bytes in `a`, a tag plus the length in `b`, and the
  * arena offset. A probe of an inline key is then one slot read, and
  * the slot index is a mix of `(a, b)` for both kinds, so growing never
  * rereads key bytes. Linear probing; doubles past half full.
  */
private[graft] final class ByteSliceCounter(initialCapacity: Int) {
  import ByteSliceCounter._

  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var mask = cap - 1
  private var shift = 64 - Integer.numberOfTrailingZeros(cap)
  private var slots = new Array[Long](cap * 4)
  private var size = 0
  private var arena = new Array[Byte](1 << 12)
  private var arenaPos = 0

  /** Tokens counted by [[addTokens]]. */
  var tokens = 0L

  /** Count `n` more of the key `bytes[off, off + len)`; a count past
    * Long.MaxValue raises, as ANSI `sum` does. */
  def add(bytes: Array[Byte], off: Int, len: Int, n: Long): Unit =
    if (len <= InlineMax) {
      val a = keyA(bytes, off, len)
      val b = keyB(bytes, off, len)
      upsert(a, b, mix(a, b), n)
    } else addLong(bytes, off, len, n)

  /** [[add]] of a string's bytes, read in place when on-heap. */
  def add(w: UTF8String, n: Long): Unit = w.getBaseObject match {
    case a: Array[Byte] => add(a, offsetIn(w), w.numBytes, n)
    case _ => val a = w.getBytes; add(a, 0, a.length, n)
  }

  /** [[addTokens]] of a string's bytes, read in place when on-heap. */
  def addTokens(s: UTF8String): Unit = s.getBaseObject match {
    case a: Array[Byte] => addTokens(a, offsetIn(s), offsetIn(s) + s.numBytes)
    case _ => val a = s.getBytes; addTokens(a, 0, a.length)
  }

  /** Count every token of `b[from, len)` ([[graft.functions.Tokens]]):
    * the engine's one counting loop, timed as-is by [[MicroProbe]]. */
  def addTokens(b: Array[Byte], from: Int, len: Int): Unit = {
    var seen = 0L
    var t = Tokens.next(b, from, len)
    while (t >= 0) {
      val s = Tokens.start(t)
      val e = Tokens.end(t)
      add(b, s, e - s, 1L)
      seen += 1
      t = Tokens.next(b, e, len)
    }
    tokens += seen
  }

  private def upsert(a: Long, b: Long, h: Long, n: Long): Unit = {
    var i = (h >>> shift).toInt
    while (true) {
      val p = i << 2
      val kb = slots(p + 1)
      if (kb == b && slots(p) == a) {
        slots(p + 2) = Math.addExact(slots(p + 2), n)
        return
      }
      if (kb == 0L) {
        slots(p) = a; slots(p + 1) = b; slots(p + 2) = n
        inserted()
        return
      }
      i = (i + 1) & mask
    }
  }

  private def addLong(bytes: Array[Byte], off: Int, len: Int, n: Long): Unit = {
    val a = hashBytes(bytes, off, len)
    val b = LongTag | len
    var i = (mix(a, b) >>> shift).toInt
    while (true) {
      val p = i << 2
      val kb = slots(p + 1)
      if (kb == b && slots(p) == a &&
          java.util.Arrays.equals(arena, slots(p + 3).toInt, slots(p + 3).toInt + len,
            bytes, off, off + len)) {
        slots(p + 2) = Math.addExact(slots(p + 2), n)
        return
      }
      if (kb == 0L) {
        while (arenaPos + len > arena.length)
          arena = java.util.Arrays.copyOf(arena, arena.length * 2)
        System.arraycopy(bytes, off, arena, arenaPos, len)
        slots(p) = a; slots(p + 1) = b; slots(p + 2) = n; slots(p + 3) = arenaPos
        arenaPos += len
        inserted()
        return
      }
      i = (i + 1) & mask
    }
  }

  private def inserted(): Unit = {
    size += 1
    if (size * 2 > cap) grow()
  }

  private def grow(): Unit = {
    val old = slots
    cap *= 2; mask = cap - 1; shift -= 1
    slots = new Array[Long](cap * 4)
    var p = 0
    while (p < old.length) {
      if (old(p + 1) != 0L) {
        var i = (mix(old(p), old(p + 1)) >>> shift).toInt
        while (slots((i << 2) + 1) != 0L) i = (i + 1) & mask
        System.arraycopy(old, p, slots, i << 2, 4)
      }
      p += 4
    }
  }

  def entryCount: Int = size

  /** The entries as `(word, cnt)` UnsafeRows, in slot order; the row
    * buffer is reused, as a projection's is. */
  def rows: Iterator[InternalRow] = new Iterator[InternalRow] {
    private val writer = new UnsafeRowWriter(2, 32)
    private val key = new Array[Byte](InlineMax)
    private var p = seek(0)

    private def seek(from: Int): Int = {
      var q = from
      while (q < slots.length && slots(q + 1) == 0L) q += 4
      q
    }

    override def hasNext: Boolean = p < slots.length

    override def next(): InternalRow = {
      val a = slots(p)
      val b = slots(p + 1)
      writer.reset()
      writer.zeroOutNullBytes()
      if ((b & LongTag) == LongTag)
        writer.write(0, arena, slots(p + 3).toInt, b.toInt)
      else {
        val len = (b >>> 56).toInt - 1
        var i = 0
        while (i < len) {
          key(i) = (if (i < 8) a >>> (8 * i) else b >>> (8 * (i - 8))).toByte
          i += 1
        }
        writer.write(0, key, 0, len)
      }
      writer.write(1, slots(p + 2))
      p = seek(p + 4)
      writer.getRow
    }
  }
}

private[graft] object ByteSliceCounter {
  /** Longest key kept inline in its slot. */
  val InlineMax = 15
  /** `b`'s top byte for an arena key; inline keys use 1-16 there. */
  private val LongTag = 0x40L << 56

  private val LittleEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  @inline private def offsetIn(s: UTF8String): Int =
    (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt

  /** Little-endian long at `bytes(off)`; the caller checks bounds. */
  @inline private def le(bytes: Array[Byte], off: Int): Long = {
    val v = Platform.getLong(bytes, Platform.BYTE_ARRAY_OFFSET + off)
    if (LittleEndian) v else java.lang.Long.reverseBytes(v)
  }

  /** Bytes `[from, until)` of a key, little-endian from bit 0. */
  private def slow(bytes: Array[Byte], off: Int, from: Int, until: Int): Long = {
    var v = 0L
    var i = from
    while (i < until) { v |= (bytes(off + i) & 0xFFL) << (8 * (i - from)); i += 1 }
    v
  }

  /** Key word a of an inline key (`len <= InlineMax`): bytes 0-7. */
  @inline private def keyA(bytes: Array[Byte], off: Int, len: Int): Long =
    if (len >= 8 && off + 8 <= bytes.length) le(bytes, off)
    else if (len > 0 && off + 8 <= bytes.length) le(bytes, off) & (-1L >>> (64 - 8 * len))
    else slow(bytes, off, 0, math.min(len, 8))

  /** Key word b of an inline key: bytes 8-14, `len + 1` in the top byte. */
  @inline private def keyB(bytes: Array[Byte], off: Int, len: Int): Long = {
    val tag = (len + 1L) << 56
    if (len <= 8) tag
    else if (off + 16 <= bytes.length) (le(bytes, off + 8) & (-1L >>> (128 - 8 * len))) | tag
    else slow(bytes, off, 8, len) | tag
  }

  /** 64-bit FNV-1a of an arena key's bytes. */
  private def hashBytes(bytes: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = off
    while (i < off + len) { h = (h ^ (bytes(i) & 0xFF)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Slot hash of a key; callers take its top bits. */
  @inline private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ b
    h ^= h >>> 33
    h *= 0xFF51AFD7ED558CCDL
    h ^ (h >>> 33)
  }
}

case class TokenCountsExec(text: Expression, output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numTokens" -> SQLMetrics.createMetric(sparkContext, "number of tokens counted"))

  override protected def doExecute(): RDD[InternalRow] = {
    val textExpr = text
    val childOutput = child.output
    val numOutputRows = longMetric("numOutputRows")
    val numTokens = longMetric("numTokens")
    child.execute().mapPartitions({ rows =>
      val bound = BindReferences.bindReference(textExpr, childOutput)
      val counts = new ByteSliceCounter(1 << 15)
      rows.foreach { row =>
        val s = bound.eval(row).asInstanceOf[UTF8String]
        if (s != null) counts.addTokens(s)
      }
      numTokens += counts.tokens
      numOutputRows += counts.entryCount
      counts.rows
    }, preservesPartitioning = false)
  }

  override def verboseStringWithOperatorId(): String =
    TokenCounts.withMetrics(super.verboseStringWithOperatorId(), metrics)

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsExec =
    copy(child = newChild)
}

/** Merge of [[TokenCounts]] partials: sums `cnt` per `word` over rows
  * that [[TokenCountsMergeExec]] receives clustered by word. Holding
  * both attributes makes them its references, so column pruning keeps
  * them below the merge whatever its parent reads. */
case class TokenCountsMerge(word: Attribute, cnt: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = Seq(word, cnt)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCountsMerge =
    copy(child = newChild)
}

/** Feeds `(word, cnt)` rows into a [[ByteSliceCounter]], the combiner's
  * own table, in place of a partial + final HashAggregate pair that
  * would hash every (already unique per task) partial row twice more.
  * Requiring ClusteredDistribution(word) makes EnsureRequirements plant
  * the one hash exchange; a single-partition child already satisfies
  * it and gets none.
  *
  * Memory: each task holds its whole share of the vocabulary, about
  * |V| / spark.sql.shuffle.partitions keys (all of |V| on the tiny
  * path), on-heap. Spark's memory manager does not see the table and it
  * cannot spill, unlike the HashAggregate it replaces, so a share that
  * outgrows the executor heap fails the task with an OutOfMemoryError;
  * raise the shuffle partition count for such vocabularies.
  */
case class TokenCountsMergeExec(word: Attribute, cnt: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(word, cnt)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(word)) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val w = child.output.indexWhere(_.exprId == word.exprId)
    val c = child.output.indexWhere(_.exprId == cnt.exprId)
    child.execute().mapPartitions({ rows =>
      val counts = new ByteSliceCounter(1 << 12)
      rows.foreach(row => counts.add(row.getUTF8String(w), row.getLong(c)))
      numOutputRows += counts.entryCount
      counts.rows
    }, preservesPartitioning = true)
  }

  override def verboseStringWithOperatorId(): String =
    TokenCounts.withMetrics(super.verboseStringWithOperatorId(), metrics)

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsMergeExec =
    copy(child = newChild)
}

object TokenCountsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TokenCounts(text, child, out) =>
      TokenCountsExec(text, out, planLater(child)) :: Nil
    case TokenCountsMerge(word, cnt, child) =>
      TokenCountsMergeExec(word, cnt, planLater(child)) :: Nil
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

  /** An operator's formatted-explain entry plus a `Metrics:` line, so
    * an explained plan that has run shows what the operator did. */
  private[plans] def withMetrics(verbose: String,
      metrics: Map[String, SQLMetric]): String =
    verbose + metrics.toSeq.sortBy(_._1)
      .map { case (k, m) => s"${m.name.getOrElse(k)}: ${m.value}" }
      .mkString("Metrics: ", ", ", "\n")

  /** Per-partition partial token counts of `textCol`. */
  def partialCounts(df: DataFrame, textCol: Column): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val withText = df.select(textCol.as("__graft_text"))
    val plan = withText.queryExecution.analyzed
    GraftShims.ofRows(spark,
      TokenCounts(plan.output.find(_.name == "__graft_text").get, plan))
  }

  /** [[partialCounts]] rows summed per word by [[TokenCountsMergeExec]],
    * behind a hash exchange on word unless `partials` is one partition. */
  private def merged(partials: DataFrame): DataFrame = {
    val plan = partials.queryExecution.analyzed
    GraftShims.ofRows(partials.sparkSession,
      TokenCountsMerge(plan.output(0), plan.output(1), plan))
  }

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
    * -> ONE-partition sort of the merged vocabulary.
    *
    * This is the exact shape of the reference program — N workers feed
    * one hash map, then a single qsort over the distinct words
    * (main.c:150-170) — and it is strictly cheaper than `counts` when
    * the consumer is a single ordered stream anyway (stdout, CLI
    * collect): Catalyst's `orderBy` plans a RangePartitioning exchange
    * whose boundary-sampling pass RE-EXECUTES the merge, the dominant
    * post-scan cost. Here the merge runs once and the final exchange
    * moves only the merged vocabulary (|V| rows, not tokens) into one
    * partition for the sort. Plan: TokenCounts -> Exchange(hash word)
    * -> TokenCountsMerge -> Exchange(SinglePartition) -> Sort; no
    * HashAggregate.
    *
    * Cost-based DOP: when the optimizer's size estimate says the input
    * is tiny (< 64 MB), the fixed per-task floor is the whole cost —
    * measured on the 12 MB skew corpus, 32 map tasks spent ~40 ms EACH
    * writing a 24-row shuffle map output. So the tiny path coalesces
    * the scan to ceil(bytes / 4 MB) tasks and merges through ONE
    * SinglePartition exchange (which satisfies the merge's
    * ClusteredDistribution, so merge + sort fuse into the same final
    * stage): 2 stages, k+1 tasks, 1 exchange. Partial rows are bounded
    * by k * |vocab| with k <= 16, so the single merge task stays
    * trivially small. Unknown/derived-stats inputs estimate huge and
    * take the distributed shape — the safe direction.
    *
    * Scale contract: the tail is O(|V| log |V|) in ONE task — right
    * whenever the sorted result is consumed as a single stream (which
    * caps |V| at what the consumer can hold anyway). For a distributed
    * sorted RESULT (downstream parallel reads), use `counts`: its
    * sampled range exchange keeps the sort parallel. Both hold each
    * merge task's share of the vocabulary in an unspillable table (see
    * [[TokenCountsMergeExec]]), so neither serves a vocabulary whose
    * share outgrows the heap.
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
      merged(partialCounts(df.coalesce(parts), textCol).repartition(1))
        .sortWithinPartitions("word")
    } else
      merged(partialCounts(df, textCol))
        .repartition(1)
        .sortWithinPartitions("word")
  }
}
