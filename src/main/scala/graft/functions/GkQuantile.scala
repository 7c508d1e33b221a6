package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Greenwald–Khanna ε-approximate quantile summary (Greenwald &
  * Khanna, "Space-efficient online computation of quantile summaries",
  * SIGMOD 2001) as a native `TypedImperativeAggregate` — the last
  * sketch family in this engine still riding a Spark built-in
  * (`percentile_approx`), now home-grown like HLL / KMV / Misra-Gries /
  * Bloom.
  *
  * State: a sorted list of tuples (v, g, Δ) where g = rmin(i) −
  * rmin(i−1) and Δ = rmax(i) − rmin(i); the summary answers any
  * quantile query within ε·n ranks while holding
  * O((1/ε)·log(ε·n)) tuples. COMPRESS merges a tuple into its right
  * neighbor whenever g_i + g_{i+1} + Δ_{i+1} ≤ 2·ε·n (capacity rule),
  * never touching the endpoints (exact min/max).
  *
  * Distributed merge concatenates two summaries ordered by v, summing
  * counts — the classical merge, whose error grows with the merge
  * fan-in (the final aggregate folds each partial in sequentially) —
  * so the aggregate runs internally at ε/4, which holds the observed
  * rank error under ε across 32-way partial folds with margin
  * (GkSpec pins exactly this). The gate query
  * (`q_gk_quantile`) asserts the estimate inside the exact p45..p55
  * band (ε = 0.02 ≪ 0.05), the same error-bound-flag contract as
  * `q_hll_distinct`; GkSpec pins the rank-error curve and partition
  * invariance of the bound.
  */
case class GkQuantile(child: Expression, eps: Double, phi: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[GkQuantile.Buffer] {

  import GkQuantile.{Buffer, Tuple3d}

  // internal epsilon: headroom for the sequential partial-merge fold
  private def epsIn: Double = eps / 4

  override def createAggregationBuffer(): Buffer = new Buffer()

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) {
      buf.insert(v match {
        case d: java.lang.Double => d.doubleValue()
        case f: java.lang.Float => f.doubleValue()
        case l: java.lang.Long => l.doubleValue()
        case i: java.lang.Integer => i.doubleValue()
        // Spark's Decimal is NOT a java.lang.Number — without this arm a
        // decimal column (admitted by checkInputDataTypes' NumericType
        // check, reachable via the SQL-registered function) would throw
        // MatchError at runtime instead of aggregating
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number => n.doubleValue()
      }, epsIn)
    }
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = {
    b1.mergeIn(b2, epsIn)
    b1
  }

  override def eval(buf: Buffer): Any =
    if (buf.n == 0) null else buf.query(phi, epsIn)

  override def serialize(buf: Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 4 + buf.ts.length * 24)
    bb.putLong(buf.n)
    bb.putInt(buf.ts.length)
    buf.ts.foreach { t =>
      bb.putDouble(t.v); bb.putLong(t.g); bb.putLong(t.del)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Buffer()
    buf.n = bb.getLong
    val k = bb.getInt
    var i = 0
    while (i < k) {
      buf.ts += Tuple3d(bb.getDouble, bb.getLong, bb.getLong)
      i += 1
    }
    buf
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_gk_quantile"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a numeric argument, got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): GkQuantile =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GkQuantile =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object GkQuantile {

  case class Tuple3d(v: Double, g: Long, del: Long)

  /** Mutable GK summary. Linear-scan insert is deliberate: the summary
    * holds O((1/ε)·log(ε·n)) tuples (hundreds at ε = 0.01), so the
    * scan is a cache-friendly memcpy, not a scalability term.
    */
  final class Buffer {
    var n: Long = 0L
    val ts: ArrayBuffer[Tuple3d] = ArrayBuffer.empty

    private var sinceCompress: Int = 0

    def insert(v: Double, eps: Double): Unit = {
      var i = 0
      while (i < ts.length && ts(i).v < v) i += 1
      // GK 2001's insert assigns interior tuples Δ = ⌊2εn⌋ − 1 (the −1
      // keeps the per-tuple invariant g+Δ ≤ ⌊2εn⌋ after the insert
      // itself raises n); endpoints stay exact with Δ = 0
      val del =
        if (i == 0 || i == ts.length) 0L
        else math.max(0L, math.floor(2 * eps * n).toLong - 1L)
      ts.insert(i, Tuple3d(v, 1L, del))
      n += 1
      sinceCompress += 1
      if (sinceCompress >= math.max(1, (1.0 / (2 * eps)).toInt)) {
        compress(eps)
        sinceCompress = 0
      }
    }

    def compress(eps: Double): Unit = {
      val cap = math.floor(2 * eps * n).toLong
      var i = ts.length - 2
      while (i >= 1) {
        val a = ts(i)
        val b = ts(i + 1)
        if (a.g + b.g + b.del <= cap) {
          ts(i + 1) = Tuple3d(b.v, a.g + b.g, b.del)
          ts.remove(i)
        }
        i -= 1
      }
    }

    /** Classical merge: interleave by value keeping each tuple's
      * (g, Δ), then compress at the combined count. */
    def mergeIn(other: Buffer, eps: Double): Unit = {
      if (other.n == 0) return
      if (n == 0) {
        n = other.n
        ts ++= other.ts
        return
      }
      val merged = new ArrayBuffer[Tuple3d](ts.length + other.ts.length)
      var i = 0
      var j = 0
      while (i < ts.length && j < other.ts.length) {
        if (ts(i).v <= other.ts(j).v) { merged += ts(i); i += 1 }
        else { merged += other.ts(j); j += 1 }
      }
      while (i < ts.length) { merged += ts(i); i += 1 }
      while (j < other.ts.length) { merged += other.ts(j); j += 1 }
      ts.clear()
      ts ++= merged
      n += other.n
      compress(eps)
    }

    /** Rank query: the first tuple whose max possible rank exceeds
      * target + ε·n closes the search; its predecessor's rank is then
      * provably within ε·n of the target. */
    def query(phi: Double, eps: Double): Double = {
      val target = math.ceil(phi * n).toLong
      val slack = math.floor(eps * n).toLong
      var rmin = 0L
      var i = 0
      var prev = ts.head.v
      while (i < ts.length) {
        rmin += ts(i).g
        val rmax = rmin + ts(i).del
        if (rmax > target + slack && i > 0) return prev
        prev = ts(i).v
        i += 1
      }
      ts.last.v
    }
  }

  /** SQL argument decoding of `graft_gk_quantile(x, eps, phi)`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => GkQuantile(exprs.head,
      exprs(1).eval().asInstanceOf[Number].doubleValue(),
      exprs(2).eval().asInstanceOf[Number].doubleValue())

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_gk_quantile", builder, "scala_udf")

  /** ε-approximate φ-quantile of numeric column `c`. */
  def gk(spark: SparkSession, c: Column, eps: Double, phi: Double): Column = {
    register(spark)
    call_function("graft_gk_quantile", c,
      org.apache.spark.sql.functions.lit(eps),
      org.apache.spark.sql.functions.lit(phi))
  }
}
