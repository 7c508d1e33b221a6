package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document base pass of the sorted-neighborhood blocker:
  * one key scan and one [[Tokens]] scan of the (already lowercased)
  * text producing
  *
  *   k1 = substring(regexp_replace(s, "[^a-z0-9]+", ""), 1, 12)
  *   k2 = substring(reverse(regexp_replace(s, "[^a-z0-9]+", "")), 1, 12)
  *   ts = array_sort(array_distinct(filter(split(s, "[^A-Za-z0-9]+"),
  *          t -> length(t) > 0)))
  *
  * as a struct(k1, k2, ts) — replacing two java.util.regex passes (the
  * replace and the split), a full materialized `norm` string plus its
  * reverse, and the array_distinct/array_sort pair, which together were
  * ONE 7.8 s map stage of scaled_snm_x20 (r17 stage telemetry; the
  * documented "inherent per-document CPU" this expression removes).
  *
  * Bit-exactness argument (pinned by SnmBaseSpec against the exact
  * Column formulation above):
  *   - deleting every maximal run of non-[a-z0-9] chars == deleting
  *     every non-[a-z0-9] char; the survivors are ASCII, so chars ==
  *     bytes, substring == byte prefix, and reverse == byte reverse
  *     (the scan keeps the first 12 and last 12 surviving bytes — the
  *     full norm string is never built);
  *   - `split` on the complement class + empty-filter == maximal
  *     [A-Za-z0-9] byte runs (the [[Tokens]] argument: every
  *     byte >= 0x80 is a separator, and ASCII bytes never occur inside
  *     multi-byte UTF-8 sequences);
  *   - array_sort on array<string> orders by UTF8String.compareTo
  *     (binary), the same comparator the sort+adjacent-dedup here uses.
  *
  * The input must be the OUTPUT of Spark's lower() — Unicode case
  * mapping is not re-implemented here (e.g. U+0130 lowercases to an
  * ASCII 'i' plus a combining dot, and that 'i' must survive into keys
  * and tokens exactly as lower() emits it).
  */
case class SnmBase(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("k1", StringType, nullable = false),
    StructField("k2", StringType, nullable = false),
    StructField("ts", ArrayType(StringType, containsNull = false),
      nullable = false)))

  override def prettyName: String = "graft_snm_base"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    SnmBase.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SnmBase.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SnmBase {

  private val KEY_LEN = 12

  /** The key alphabet: `[a-z0-9]`, a different rule from the token
    * class (the input is already lowercased; keys drop every other
    * byte). */
  @inline private def isNormByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** (k1, k2, sorted distinct tokens) — see the case class
    * scaladoc for the contract. Called from generated code; must stay
    * a pure static function of its argument.
    */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val first = new Array[Byte](KEY_LEN)
    var nFirst = 0
    val ring = new Array[Byte](KEY_LEN)
    var kept = 0L
    var i = 0
    while (i < n) {
      if (isNormByte(bytes(i))) {
        if (nFirst < KEY_LEN) { first(nFirst) = bytes(i); nFirst += 1 }
        ring((kept % KEY_LEN).toInt) = bytes(i)
        kept += 1
      }
      i += 1
    }
    val k1 = UTF8String.fromBytes(first, 0, nFirst)
    val m = math.min(kept, KEY_LEN.toLong).toInt
    val tail = new Array[Byte](m)
    var j = 0
    while (j < m) {
      tail(j) = ring(((kept - 1 - j) % KEY_LEN).toInt)
      j += 1
    }
    val k2 = UTF8String.fromBytes(tail, 0, m)
    val arr = Tokens.strings(bytes).toArray
    java.util.Arrays.sort(arr.asInstanceOf[Array[Object]])
    var w = 0
    var r = 0
    while (r < arr.length) {
      if (w == 0 || arr(r).compareTo(arr(w - 1)) != 0) {
        arr(w) = arr(r)
        w += 1
      }
      r += 1
    }
    new GenericInternalRow(Array[Any](k1, k2,
      new GenericArrayData(java.util.Arrays.copyOf(arr, w))))
  }

  /** Idempotent registration; SQL-callable as `graft_snm_base(s)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_snm_base", exprs => SnmBase(exprs.head), "scala_udf")

  /** struct(k1, k2, ts) Column over an already-lowercased string. */
  def of(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_snm_base", c)
  }
}
