package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused winnowing-fingerprint generator (Schleimer et al., SIGMOD'03):
  * one output row per DISTINCT selected fingerprint of the input text,
  * where fingerprints are the minima of every `w`-wide window over the
  * polynomial hashes (mod 1e9+7, base 31 over the gram string's bytes)
  * of the text's `k`-token grams — tokens as in `functions/Tokens.scala`,
  * grams joined by a single space.
  *
  * Value-identical to the HOF formulation (tokens -> transform gram
  * strings -> aggregate char fold -> window mins -> array_distinct ->
  * explode) that the DuckDB oracle mirrors, but in ONE byte scan with
  * zero intermediate arrays/strings: token spans found in place, each
  * gram hashed straight from the input bytes, windows folded over a
  * primitive array. Guarantee preserved: any shared run of k+w-1
  * tokens yields a shared fingerprint; docs shorter than that emit
  * nothing.
  */
case class WinnowExplode(child: Expression, k: Int, w: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(
    StructField("fp", LongType, nullable = false) :: Nil)

  override def prettyName: String = "graft_winnow"

  private val Mod = 1000000007L

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val sp = Tokens.spans(bytes)
    val nTok = sp.size
    if (nTok < k + w - 1) return Iterator.empty

    // hash of each k-gram: fold over "tok tok tok" bytes, mod 1e9+7
    val m = nTok - k + 1
    val gh = new Array[Long](m)
    var g = 0
    while (g < m) {
      var acc = 0L
      var j = 0
      while (j < k) {
        if (j > 0) acc = (acc * 31 + ' ') % Mod
        var p = sp.start(g + j)
        val e = sp.end(g + j)
        while (p < e) {
          acc = (acc * 31 + (bytes(p) & 0xff)) % Mod
          p += 1
        }
        j += 1
      }
      gh(g) = acc
      g += 1
    }

    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[InternalRow]()
    var j = 0
    while (j <= m - w) {
      var mn = gh(j)
      var t = 1
      while (t < w) {
        if (gh(j + t) < mn) mn = gh(j + t)
        t += 1
      }
      if (seen.add(mn)) out.add(new GenericInternalRow(Array[Any](mn)))
      j += 1
    }
    import scala.jdk.CollectionConverters._
    out.asScala
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowExplode {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_winnow",
      exprs => WinnowExplode(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()),
      "scala_udf")

  /** Generator Column: distinct winnowing fingerprints of `c`. */
  def fingerprints(spark: SparkSession, c: Column, k: Int, w: Int): Column = {
    register(spark)
    call_function("graft_winnow", c, lit(k), lit(w))
  }
}
