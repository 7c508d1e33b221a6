package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle-hash generator for MinHash: one output row per word
  * n-gram of the input string, carrying the two 48-bit halves of the
  * shingle's md5 — i.e. the exact values of
  * `('0x'||substr(md5(shingle),1,12))::BIGINT` and bytes 7-12, where
  * `shingle` is n consecutive tokens (`functions/Tokens.scala`) joined
  * by ' '.
  *
  * Collapses tokenize (HOF filter — interpreted), n-gram assembly (HOF
  * transform — interpreted), explode, hex md5 and two conv() parses
  * into a single byte-scan + raw digest per shingle: no intermediate
  * token arrays, no shingle strings in the plan, no hex. This took the
  * sf0.1 MinHash pipeline from ~17 s to the cost of the digests alone.
  *
  * Output values are engine-checkable: the DuckDB oracle recomputes
  * them from md5 hex (see graft.queries.Dedup.sqlSigCtes).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(
    StructField("h1", LongType, nullable = false) ::
    StructField("h2", LongType, nullable = false) :: Nil)

  override def prettyName: String = "graft_shingle_hashes"

  @transient private lazy val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val sp = Tokens.spans(bytes)
    val nTok = sp.size
    if (nTok < n) return Iterator.empty

    val md = digestTL.get()
    val space = Array[Byte](' ')
    Iterator.tabulate(nTok - n + 1) { k =>
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(space)
        md.update(bytes, sp.start(k + j), sp.len(k + j))
        j += 1
      }
      val d = md.digest()
      // big-endian 6-byte halves == ('0x'||substr(hex,1,12)) / (,13,12)
      var h1 = 0L; var h2 = 0L
      var b = 0
      while (b < 6) {
        h1 = (h1 << 8) | (d(b) & 0xffL)
        h2 = (h2 << 8) | (d(b + 6) & 0xffL)
        b += 1
      }
      new GenericInternalRow(Array[Any](h1, h2))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  /** SQL argument decoding of `graft_shingle_hashes(s, n)`, shared by
    * [[register]] and [[graft.GraftExtensions]]. */
  val builder: Seq[Expression] => Expression =
    exprs => ShingleHashes(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_shingle_hashes", builder, "scala_udf")

  /** Generator Column: (h1, h2) per word n-gram of `c`. */
  def shingleHashes(spark: SparkSession, c: Column, n: Int): Column = {
    register(spark)
    call_function("graft_shingle_hashes", c, lit(n))
  }
}
