package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-count sketch as a native
  * `TypedImperativeAggregate` — the mutable-buffer Catalyst aggregate
  * slot (the third extension surface next to `Aggregator` UDAFs and
  * `DeclarativeAggregate`s). Sketch-class op like HyperLogLog, but
  * DETERMINISTIC and engine-reproducible: hashes are the md5-derived
  * 48-bit integers used across this engine, so the DuckDB oracle
  * recomputes the estimate bit-for-bit — an approximate operator with
  * an exact correctness gate.
  *
  * Estimate: keep the k smallest distinct hashes of the input strings;
  * if fewer than k distinct hashes are seen the answer is exact, else
  * estimate = (k-1) * 2^48 / h_k (h_k = k-th smallest). Buffers are a
  * bounded TreeSet (k longs), merged by set-union + re-trim — the same
  * partial/merge shape as any distributed sketch, shipped through the
  * standard ObjectHashAggregate path.
  */
case class KmvDistinct(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  private val TwoPow48 = 281474976710656.0

  @transient private lazy val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def hash48(s: UTF8String): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var b = 0
    while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      buf.add(hash48(v.asInstanceOf[UTF8String]))
      if (buf.size() > k) buf.pollLast()
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    b1.addAll(b2)
    while (b1.size() > k) b1.pollLast()
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size() < k) buf.size().toDouble
    else (k - 1).toDouble * TwoPow48 / buf.last().toDouble

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    buf.forEach(h => out.writeLong(h))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_kmv_distinct"

  // same analysis-time guard as HllDistinct: SQL-exposed, so a
  // non-string arg must fail analysis, not the executor
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvDistinct {

  /** SQL argument decoding of `graft_kmv_distinct(s, k)`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => KmvDistinct(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kmv_distinct", builder, "scala_udf")

  /** Approximate distinct count of string column `c` (k-minimum-values). */
  def kmv(spark: SparkSession, c: Column, k: Int): Column = {
    register(spark)
    call_function("graft_kmv_distinct", c, org.apache.spark.sql.functions.lit(k))
  }
}

/** Sketch-VALUED twin of [[KmvDistinct]]: same k-minimum-values state
  * (k smallest distinct md5-48 hashes), but `eval` emits the synopsis
  * itself — a sorted `array<bigint>` — instead of collapsing it to an
  * estimate. This is what makes KMV an *algebra*, not just a counter
  * (Beyer et al., "On synopses for distinct-value estimation under
  * multiset operations", SIGMOD 2007): synopses of different partitions
  * / groups compose with plain array ops —
  *
  *  - union synopsis  = k smallest of `array_union(a, b)`
  *  - union estimate  = (k-1) * 2^48 / h_k of the union synopsis
  *  - intersection    = (|{h in union-synopsis : h in a AND h in b}| / k)
  *                      * union-estimate
  *
  * so set-operation cardinalities over huge key sets reduce to
  * k-element array arithmetic on one row per group (`q_kmv_setops`).
  * Deterministic like its twin: the DuckDB oracle recomputes every
  * hash, rank, and division bit-for-bit.
  */
case class KmvSketchAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  @transient private lazy val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def hash48(s: UTF8String): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var b = 0
    while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      buf.add(hash48(v.asInstanceOf[UTF8String]))
      if (buf.size() > k) buf.pollLast()
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    b1.addAll(b2)
    while (b1.size() > k) b1.pollLast()
    b1
  }

  // TreeSet iterates ascending, so the synopsis arrives sorted — the
  // downstream algebra's h_k is simply the last element
  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size())
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    buf.forEach(h => out.writeLong(h))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_kmv_sketch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvSketchAgg {

  /** SQL argument decoding of `graft_kmv_sketch(s, k)`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => KmvSketchAgg(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kmv_sketch", builder, "scala_udf")

  /** The KMV synopsis (sorted array of the k smallest distinct hashes)
    * of string column `c`. */
  def sketch(spark: SparkSession, c: Column, k: Int): Column = {
    register(spark)
    call_function("graft_kmv_sketch", c, org.apache.spark.sql.functions.lit(k))
  }
}
