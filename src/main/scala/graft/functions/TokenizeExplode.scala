package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenizer Generator: one output row per token of the input
  * string (the rule in `functions/Tokens.scala`) — replacing
  * `explode(split(regex))` on the hot path.
  *
  * Why: Java-regex `split` costs ~26 us/line (pattern machinery + a
  * String[] allocation per row) and dominated the word-count profile
  * (10 of 11 s at 12M tokens). This generator is the reference's FSM
  * (main.c:221-266) re-expressed over Spark's UTF8String: a lazy
  * [[Tokens.strings]] scan per row, emitting zero-copy slices of the
  * underlying byte array (the analog of the reference's (ptr,len)
  * tokens, main.c:242).
  *
  * CodegenFallback only breaks the stage at the Generate operator
  * (Spark codegens only its built-in explode/stack generators); the
  * scan below and filter/partial-agg above remain codegen'd, and the
  * interpreted hop costs far less than the regex it replaces (~4x
  * end-to-end on the 12M-token benchmark).
  */
case class TokenizeExplode(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("word", StringType, nullable = false) :: Nil)

  override def prettyName: String = "graft_tokenize"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else Tokens.strings(v.asInstanceOf[UTF8String].getBytes)
      .map(t => new GenericInternalRow(Array[Any](t)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenizeExplode {

  /** SQL argument decoding of `graft_tokenize(s)`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => TokenizeExplode(exprs.head)

  /** Idempotent registration; also SQL-callable: `graft_tokenize(s)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_tokenize", builder, "scala_udf")

  /** Generator Column: one `word` row per token of `c`. */
  def tokenize(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_tokenize", c)
  }
}
