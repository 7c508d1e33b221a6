package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct-count sketch as a native
  * `TypedImperativeAggregate` (Flajolet et al. 2007, + the HLL++ 64-bit
  * hash simplification from Heule et al. 2013 — no large-range
  * correction needed).
  *
  * Complements [[KmvDistinct]] on the sketch surface: KMV keeps k
  * exact hash values (answer exact below k, merge = set-union), HLL
  * keeps 2^p fixed one-byte registers (CONSTANT 4 KiB buffer at any
  * cardinality, merge = elementwise max). At 100 TB the constant-size
  * commutative buffer is the point: per-partition partials are 4 KiB
  * regardless of input size and merge in any order through the
  * standard ObjectHashAggregate partial/final path — the same shape
  * Spark's own `approx_count_distinct` uses, implemented here from
  * the published algorithm as the engine's own extension op.
  *
  * Deterministic: XXH64(seed 42) over the input's UTF-8 bytes — same
  * estimate on every run/partitioning (register merge is max:
  * associative + commutative + idempotent), so the driver's rows-only
  * hash check is stable. Not ANSI-SQL-reproducible (no oracle);
  * accuracy is gated by HllSpec against exact counts (±2%@p=12 vs the
  * theoretical 1.04/sqrt(m) = 1.6% rsd).
  */
case class HllDistinct(child: Expression, p: Int = 12,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 4 && p <= 18, s"precision must be in [4,18], got $p")

  private val m = 1 << p

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(regs: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      val b = s.getBytes
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      val idx = (h >>> (64 - p)).toInt
      // rank = leading-zero count of the remaining 64-p bits, + 1
      val rest = h << p
      val rank = (if (rest == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(rest)) + 1
      if (rank > regs(idx)) regs(idx) = rank.toByte
    }
    regs
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(regs: Array[Byte]): Any = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * m * m / invSum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
      else e
    math.rint(est).toLong
  }

  override def serialize(regs: Array[Byte]): Array[Byte] = regs
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_hll_distinct"

  // SQL-exposed (GraftExtensions): reject non-string args at analysis
  // time instead of a ClassCastException at executor runtime.
  // (ExpectsInputTypes is unusable outside org.apache.spark.sql —
  // AbstractDataType is private[sql] — so check directly.)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): HllDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HllDistinct {

  /** SQL argument decoding of `graft_hll_distinct(s [, p])`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => HllDistinct(exprs.head,
      if (exprs.length > 1) exprs(1).eval().asInstanceOf[Number].intValue()
      else 12)

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hll_distinct", builder, "scala_udf")

  /** Approximate distinct count of string column `c`, 2^p registers. */
  def hll(spark: SparkSession, c: Column, p: Int = 12): Column = {
    register(spark)
    call_function("graft_hll_distinct", c, org.apache.spark.sql.functions.lit(p))
  }
}
