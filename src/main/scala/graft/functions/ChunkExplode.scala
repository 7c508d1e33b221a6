package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Context-window chunking Generator: splits a document's token stream
  * into windows of `width` tokens advancing by `stride` (overlap =
  * width - stride), emitting (chunk_idx, chunk, n_tokens) rows — the
  * packing step an LLM training pipeline runs over every document.
  *
  * Same fused single-byte-scan shape as [[NgramExplode]] (the
  * higher-order `transform(sequence, i -> slice)` formulation is
  * interpreted and O(tokens^2) per row): token boundaries found once,
  * one buffer copy per emitted chunk. Windows stop at the first one
  * whose end reaches the last token (standard tail rule: no token
  * dropped, no window fully contained in its predecessor).
  */
case class ChunkExplode(child: Expression, width: Int, stride: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(width > 0 && stride > 0 && stride <= width,
    s"need 0 < stride <= width, got width=$width stride=$stride")

  override def elementSchema: StructType = StructType(
    StructField("chunk_idx", IntegerType, nullable = false) ::
    StructField("chunk", StringType, nullable = false) ::
    StructField("n_tokens", IntegerType, nullable = false) :: Nil)

  override def prettyName: String = "graft_chunks"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val sp = Tokens.spans(bytes)
    val nTok = sp.size
    if (nTok == 0) return Iterator.empty
    // offsets 0, stride, 2*stride, ...; stop at the first window whose
    // end reaches the last token
    val nChunks =
      if (nTok <= width) 1 else (nTok - width + stride - 1) / stride + 1
    Iterator.tabulate(nChunks) { k =>
      val from = k * stride
      val until = math.min(from + width, nTok)
      new GenericInternalRow(Array[Any](k, Tokens.joined(bytes, sp, from, until),
        until - from)): InternalRow
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ChunkExplode {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_chunks",
      exprs => ChunkExplode(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()),
      "scala_udf")

  /** Generator Column: (chunk_idx, chunk, n_tokens) rows per window. */
  def chunks(spark: SparkSession, c: Column, width: Int, stride: Int): Column = {
    register(spark)
    call_function("graft_chunks", c, lit(width), lit(stride))
  }
}
