package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk boundaries (LBFS/rsync family): positions p
  * (1-based, in code points) where the trailing 4-gram polynomial hash
  * `cp₋₃·31³ + cp₋₂·31² + cp₋₁·31 + cp₀ ≡ 0 (mod modulus)` — plus the
  * final text length, deduplicated. The hash is the exact polynomial,
  * computed in `Long`: it never wraps, for any code point a 4-byte
  * sequence decodes to (≤ 0x1FFFFF, invalid leads included). For text
  * of code points ≤ 0xFFFF the sum stays below 2.02e9, and the cut list
  * is exactly that of the INT SQL fold
  * `aggregate(transform(split(text,''), ch -> ascii(ch)), ...)` the
  * operator previously inlined; above it that fold would overflow INT.
  * That fold evaluates an interpreted lambda with a struct allocation
  * per character (guide §4); this kernel is one code-point walk per row
  * inside whole-stage codegen (the loop lives in a static method the
  * generated code calls — no boxing, no per-char state object).
  */
case class ContentCuts(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_cuts"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_cuts expects (string, int), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def nullSafeEval(t: Any, m: Any): Any =
    ContentCuts.cuts(t.asInstanceOf[UTF8String], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, m) =>
      s"${ev.value} = graft.functions.ContentCuts.cuts($t, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContentCuts =
    copy(left = newLeft, right = newRight)
}

object ContentCuts {
  /** One pass over the code points; mirrors the SQL fold bit-for-bit:
    * a/b/c seed at 0 (so positions 1-3 hash with zero-padding, and the
    * pos >= 4 guard keeps them out anyway), boundary positions are
    * 1-based code-point ordinals, the total length is appended, and a
    * final-position duplicate collapses (array_distinct). Strings are
    * not validated outside parquet (`CAST(binary AS STRING)`), so a
    * multi-byte sequence may be cut short at the end: it decodes from
    * the bytes present as one position, as `length` counts it. */
  def cuts(text: UTF8String, modulus: Int): ArrayData = {
    val bytes = text.getBytes
    def cont(k: Int): Int = if (k < bytes.length) bytes(k) & 0x3f else 0
    val out = new java.util.ArrayList[Integer]()
    var a = 0; var b = 0; var c = 0
    var pos = 0
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 < 0xe0) {
        cp = ((b0 & 0x1f) << 6) | cont(i + 1); i += 2
      } else if (b0 < 0xf0) {
        cp = ((b0 & 0x0f) << 12) | (cont(i + 1) << 6) | cont(i + 2); i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | (cont(i + 1) << 12) |
          (cont(i + 2) << 6) | cont(i + 3); i += 4
      }
      pos += 1
      if (pos >= 4 && (a * 29791L + b * 961L + c * 31L + cp) % modulus == 0)
        out.add(pos)
      a = b; b = c; c = cp
    }
    if (out.isEmpty || out.get(out.size - 1) != pos) out.add(pos)
    val arr = new Array[Int](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }
}
