package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-exact port of the reference's `process_word` semantics
  * (committed source: `sequential.cpp:12-37`, `omp.cpp:25-50`,
  * `hybrid.cpp:32-58` — the normative variant per SURVEY.md §2.3):
  *
  *   1. strip leading bytes while `b < 0 || ispunct(b)` (C locale);
  *   2. strip trailing bytes the same way;
  *   3. lowercase ASCII `A-Z` bytes only.
  *
  * Operates on raw UTF-8 bytes of `UTF8String` — never on Java String
  * codepoints — so mid-sequence UTF-8 truncation matches the reference
  * (`café` → `caf`, `ça` → `a`, BOM-`the` → `the`; FIXTURES.md §2).
  * Interior punctuation and non-ASCII bytes pass through untouched
  * (`don't`, `re-use`, `karamazov</title`).
  */
object WordNorm {
  /** C-locale `isspace(b)`: the `istream >>` token separators 0x20 and
    * 0x09-0x0D (the same set as Java regex `\s`). */
  @inline def isSpace(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** C-locale `ispunct(b) || b < 0` on a signed byte. Punct ranges:
    * 0x21-0x2F, 0x3A-0x40, 0x5B-0x60, 0x7B-0x7E. */
  @inline def isStrip(b: Byte): Boolean =
    b < 0 || (b >= 0x21 && b <= 0x2f) || (b >= 0x3a && b <= 0x40) ||
      (b >= 0x5b && b <= 0x60) || (b >= 0x7b && b <= 0x7e)

  /** Core normalize on UTF8String bytes; called from interpreted eval AND
    * from generated code (static forwarder), so the hot path never boxes. */
  def normalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    var start = 0
    while (start < n && isStrip(bytes(start))) start += 1
    var end = n
    while (end > start && isStrip(bytes(end - 1))) end -= 1
    var needsCopy = start != 0 || end != n
    var i = start
    while (i < end && !needsCopy) {
      val b = bytes(i)
      if (b >= 'A' && b <= 'Z') needsCopy = true
      i += 1
    }
    if (!needsCopy) return s
    val out = java.util.Arrays.copyOfRange(bytes, start, end)
    var j = 0
    while (j < out.length) {
      val b = out(j)
      if (b >= 'A' && b <= 'Z') out(j) = (b + 32).toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Catalyst expression wrapper: codegen emits a direct static call on
  * `UTF8String` (no row boxing, stays inside WholeStageCodegen). */
case class NormalizeWord(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_word requires STRING input, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_word"

  override def nullSafeEval(input: Any): Any =
    WordNorm.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNorm.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeWord =
    copy(child = newChild)
}

object NormalizeWord {
  /** Column-API entry point: `normalizeWord($"raw")`. */
  def apply(c: Column): Column = Shim.column(NormalizeWord(Shim.expression(c)))
}
