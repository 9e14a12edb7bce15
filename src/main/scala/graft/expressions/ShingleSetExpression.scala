package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.length
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The sorted distinct character `n`-gram set of a string as one
  * codegen'd Catalyst expression: `text` → `array<string>`.
  *
  * It equals `array_sort(array_distinct(charNGrams(text, n)))`
  * ([[graft.functions.TextFunctions.charNGrams]]) element for element,
  * with the same `dataType` (`containsNull = true`) and nullability; a
  * null text, or one shorter than `n`, yields an empty array. That
  * composition runs `transform` and `array_sort`'s comparator lambda
  * through `eval` per element, and both keep the projection out of
  * whole-stage codegen. Here the generated code calls [[compute]]
  * once per row: it walks the code points once, takes each window as
  * a zero-copy view of the input, sorts the views in `UTF8String`
  * byte order (`array_sort`'s order), and copies out only the first of
  * each run of equal views. The test tree keeps the composition as the
  * reference (`ShingleSetSpec`).
  */
case class ShingleSetExpression(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"shingle size must be positive, got $n")

  override def prettyName: String = "shingle_set"

  // the composition's nullability; the value itself is never null
  override def nullable: Boolean = child.nullable

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_set requires a string input, got $other")
    }

  override def eval(input: InternalRow): Any =
    ShingleSetExpression.compute(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = ShingleSetExpression.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $helper.compute(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSetExpression {

  private val byteOrder: java.util.Comparator[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.binaryCompare(b)

  /** The sorted distinct `n`-gram set of `text` (null → empty). */
  def compute(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val numBytes = text.numBytes
    // code point start offsets, stepped as `length` and `substr` step
    // them; after a truncated trailing sequence the last offset lies
    // past the end, and the last window reads as far as `substr` does
    val starts = new Array[Int](numBytes + 1)
    var len = 0
    var i = 0
    while (i < numBytes) {
      starts(len) = i
      len += 1
      i += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i))
    }
    starts(len) = i
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val m = len - n + 1
    val windows = new Array[UTF8String](m)
    var k = 0
    while (k < m) {
      windows(k) = UTF8String.fromAddress(base, off + starts(k), starts(k + n) - starts(k))
      k += 1
    }
    java.util.Arrays.sort(windows, byteOrder)
    val out = new Array[Any](m)
    var d = 0
    k = 0
    while (k < m) {
      if (k == 0 || !windows(k).equals(windows(k - 1))) {
        out(d) = windows(k).copy()
        d += 1
      }
      k += 1
    }
    new GenericArrayData(if (d == m) out else out.take(d))
  }

  /** Column-level API. */
  def shingleSet(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleSetExpression(ColumnBridge.expression(text), n))

  /** True exactly when [[shingleSet]] of `text` is non-empty: `text`
    * is non-null and has at least `n` characters. A filter on it reads
    * the input, so the shingle set is computed once, in the projection.
    */
  def hasShingles(text: Column, n: Int): Column =
    text.isNotNull && length(text) >= n
}
