package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over float- or
  * double-array embeddings — the hot inner loop of similarity search /
  * near-dup scoring. A codegen'd `Expression` (not a Scala UDF) keeps
  * the whole stage inside WholeStageCodegen: no boxing, no Row
  * conversion, one fused loop computing dot product and both norms.
  *
  * The element accessor is chosen from the CHILD TYPE at plan time
  * (`getFloat` vs `getDouble`): an unsafe `getFloat` over a double
  * array would read garbage bytes silently, so a testdata-generator
  * drift to `array<double>` must switch accessors, not corrupt scores
  * (the ts-encoding lesson applied to vectors). Anything else fails
  * analysis loudly via `checkInputDataTypes`.
  *
  * Semantics (fixed, engine-checkable): accumulate left-to-right in
  * double: dot += a[i]*b[i]; na += a[i]^2; nb += b[i]^2; result =
  * dot / (sqrt(na) * sqrt(nb)). NaN if either norm is zero; null if
  * either array is null. Arrays of unequal length use the common prefix.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private def accessor(t: DataType): String = t match {
    case ArrayType(DoubleType, _) => "getDouble"
    case _ => "getFloat"
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xDouble = accessor(left.dataType) == "getDouble"
    val yDouble = accessor(right.dataType) == "getDouble"
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = if (xDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yDouble) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ga, gb) = (accessor(left.dataType), accessor(right.dataType))
      // locals freshName'd: bare names collide with the surrounding
      // stage's generated locals (e.g. a projected column named n/na),
      // failing Janino and silently dropping the stage to interpreted
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = (double) $a.$ga($i);
          double $yi = (double) $b.$gb($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact squared L2 distance over two integer-scaled `array<long>`
  * vectors: Σ (a[i]-b[i])² as one codegen'd loop, long arithmetic
  * throughout — the hot inner loop of the distributed k-means assign
  * step (kmeans / semantic dedup / PQ training). A LOOP, not an
  * unrolled per-dimension tree: at dim=64 the unrolled form is a
  * ~200-node expression tree per distance — compile cost and stage
  * size grow with the dimension, where the loop stays constant and
  * runs identically. Null if either array is null; index positions where
  * either element is null are SKIPPED (engine-built arrays never
  * contain nulls, but the function is session-registered as
  * graft_sqdist, so arbitrary SQL can reach it — same null-element
  * hardening as graft_sorted_intersect_count). Unequal lengths use
  * the common prefix.
  */
case class LongSqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdist"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<long> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  /** True when either child TYPE admits null elements; when false the
    * per-index null checks are statically elided from the hot loop.
    */
  private def mayHaveNullElems: Boolean =
    Seq(left.dataType, right.dataType).exists {
      case ArrayType(_, cn) => cn
      case _ => true
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = mayHaveNullElems
    var acc = 0L; var i = 0
    while (i < n) {
      if (!checkNulls || (!x.isNullAt(i) && !y.isNullAt(i))) {
        val d = x.getLong(i) - y.getLong(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      val guard =
        if (mayHaveNullElems) s"if (!$a.isNullAt($i) && !$b.isNullAt($i)) "
        else ""
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $guard{
            long $d = $a.getLong($i) - $b.getLong($i);
            $acc += $d * $d;
          }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level vector functions backed by the native expressions. */
object Vectors {

  /** Idempotent session-level registration (also SQL-callable as
    * `graft_cosine(a, b)`). For cluster deploys the same registration
    * can ride `spark.sql.extensions` via [[graft.GraftExtensions]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", cosineBuilder, "scala_udf")

  /** SQL argument decoding of `graft_cosine(a, b)`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val cosineBuilder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(exprs(0), exprs(1))

  /** Cosine similarity Column over two array<float> columns. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_cosine", a, b)
  }

  /** Cosine scaled to an exact integer (1e-6 resolution) — engine-exact
    * for oracle comparison and deterministic ordering.
    */
  def cosineScaled(spark: SparkSession, a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    round(cosine(spark, a, b) * 1e6).cast("long")
  }

  /** Exact integer Σ(a[i]-b[i])² over two array<long> columns (see
    * [[LongSqDist]]). Registered per-session under an internal name so
    * the Column can be built without a private Column constructor;
    * registration is guarded so repeated Column construction (k-means
    * builds one per assign step per round) doesn't rewrite the
    * session registry each time.
    */
  def sqDistLong(spark: SparkSession, a: Column, b: Column): Column = {
    val reg = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_sqdist")
    if (!reg.functionExists(id))
      reg.createOrReplaceTempFunction(
        "graft_sqdist", exprs => LongSqDist(exprs(0), exprs(1)), "scala_udf")
    call_function("graft_sqdist", a, b)
  }
}
