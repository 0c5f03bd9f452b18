package graft.kg.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Token n-grams of a split text: R4 mention detection's gram explode, the
  * dedup shingles and passage windows, and the text operators' bigrams.
  */
object TokenGramsAlgo {
  private val Space = UTF8String.fromString(" ")

  /** The byte form of [[graft.kg.io.GazetteerIO.upperStart]]: the first
    * byte is in A-Z or 0-9. A multi-byte first character (`Ä`, `É`) never
    * qualifies, and neither does an empty or null token.
    */
  def upperStart(s: UTF8String): Boolean =
    s != null && s.numBytes() > 0 && {
      val b = s.getByte(0)
      (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')
    }

  /** Every n-gram of `ts` for n = minN..maxN in position order, all
    * minN-grams first, each gram its tokens joined by one space
    * (`array_join(slice(ts, k, n), ' ')`: null tokens are skipped). A text
    * shorter than minN tokens has none: the array is empty, never null.
    * `upperFirst` keeps only [[upperStart]] grams. A non-null `tag` wraps
    * each gram as the struct (tag, gram).
    */
  def grams(ts: ArrayData, minN: Int, maxN: Int, upperFirst: Boolean,
      tag: UTF8String): ArrayData = {
    val len = ts.numElements()
    var cap = 0
    var n = minN
    while (n <= maxN && n <= len) { cap += len - n + 1; n += 1 }
    val out = new Array[Any](cap)
    var m = 0
    n = minN
    while (n <= maxN && n <= len) {
      var k = 0
      while (k + n <= len) {
        val g =
          if (n == 1) { if (ts.isNullAt(k)) UTF8String.EMPTY_UTF8 else ts.getUTF8String(k) }
          else {
            val parts = new Array[UTF8String](n)
            var i = 0
            while (i < n) {
              if (!ts.isNullAt(k + i)) parts(i) = ts.getUTF8String(k + i)
              i += 1
            }
            UTF8String.concatWs(Space, parts: _*)
          }
        if (!upperFirst || upperStart(g)) {
          out(m) = if (tag == null) g else new GenericInternalRow(Array[Any](tag, g))
          m += 1
        }
        k += 1
      }
      n += 1
    }
    new GenericArrayData(if (m == cap) out else out.take(m))
  }
}

/** token_grams(ts: array<string>, maxN: int): the [[TokenGramsAlgo.grams]]
  * of widths `minN`..maxN of each row, as `array<string>` or, with a `tag`,
  * as `array<struct<ctype, payload>>`. Null `ts` or null `maxN` gives null.
  *
  * The one gram spelling of the library: no gram is spelled with
  * `transform`/`filter` lambdas. Those are `CodegenFallback`: they evaluate
  * interpreted, with no hoisting of a `split` out of the lambda body, and
  * drop the operator that carries them (the Generate that explodes them,
  * the Project of a shingle set, and every regex, CASE and IN beside it)
  * out of whole-stage codegen.
  */
case class TokenGrams(left: Expression, right: Expression, minN: Int, upperFirst: Boolean,
    tag: Option[String]) extends BinaryExpression {
  override def dataType: DataType = ArrayType(tag match {
    case Some(_) => StructType(Seq(
      StructField("ctype", StringType, nullable = false),
      StructField("payload", StringType, nullable = false)))
    case None => StringType
  }, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_grams"

  @transient private lazy val tagUtf8 = tag.map(UTF8String.fromString).orNull

  override protected def nullSafeEval(ts: Any, maxN: Any): Any =
    TokenGramsAlgo.grams(ts.asInstanceOf[ArrayData], minN, maxN.asInstanceOf[Int], upperFirst,
      tagUtf8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tagRef = tag.fold("null")(t => ctx.addReferenceObj("tag", UTF8String.fromString(t)))
    defineCodeGen(ctx, ev, (ts, n) =>
      s"graft.kg.expr.TokenGramsAlgo.grams($ts, $minN, $n, $upperFirst, $tagRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TokenGrams {
  /** Column-API entry point (`maxN` is cast to int). */
  def tokenGrams(ts: Column, minN: Int, maxN: Column, upperFirst: Boolean,
      tag: Option[String] = None): Column =
    Bridge.column(TokenGrams(Bridge.expression(ts), Bridge.expression(maxN.cast("int")),
      minN, upperFirst, tag))

  /** The n-grams of exactly `n` tokens of `ts`, unfiltered and untagged. */
  def exact(ts: Column, n: Int): Column = tokenGrams(ts, n, lit(n), upperFirst = false)
}
