package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused word n-gram Generator: one output row per n consecutive
  * tokens (`functions/Tokens.scala`) of the input, joined by single
  * spaces.
  *
  * Replaces the `transform(sequence(...), i -> array_join(slice(...)))`
  * higher-order formulation, which is interpreted AND O(tokens^2) per
  * row (each slice walks the array) — 12.5 s for bigrams over the sf0.1
  * corpus vs ~1 s here. Single byte scan for token boundaries, one
  * buffer copy per emitted n-gram.
  */
case class NgramExplode(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def prettyName: String = "graft_ngrams"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val sp = Tokens.spans(bytes)
    Iterator.tabulate(math.max(sp.size - n + 1, 0)) { k =>
      new GenericInternalRow(Array[Any](Tokens.joined(bytes, sp, k, k + n))): InternalRow
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramExplode {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_ngrams",
      exprs => NgramExplode(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      "scala_udf")

  /** Generator Column: one `ngram` row per word n-gram of `c`. */
  def ngrams(spark: SparkSession, c: Column, n: Int): Column = {
    register(spark)
    call_function("graft_ngrams", c, lit(n))
  }
}
