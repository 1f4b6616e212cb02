package graft.functions

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One byte-level pass over a text line: split on C-locale whitespace
  * ([[WordNorm.isSpace]]), apply the reference's normalize (WordNorm,
  * byte-exact `process_word`), drop empties. [[WordCombiner]] tokenizes
  * with the same two predicates. Tokens are zero-copy slices of the
  * line's bytes when no rewrite is needed (the common case).
  */
object TokenizeNormalizeImpl {
  import WordNorm.{isSpace, isStrip}

  /** Called from both interpreted eval and generated code. One ArrayData
    * per LINE (not per token) is the only fixed allocation. */
  def tokenize(line: UTF8String): ArrayData = {
    val bytes = line.getBytes
    val n = bytes.length
    val out = new ArrayBuffer[Any](16)
    var i = 0
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      var e = i
      while (e < n && !isSpace(bytes(e))) e += 1
      var s = i
      i = e // consume the token span
      while (s < e && isStrip(bytes(s))) s += 1
      var t = e
      while (t > s && isStrip(bytes(t - 1))) t -= 1
      if (t > s) {
        var hasUpper = false
        var j = s
        while (j < t && !hasUpper) {
          val b = bytes(j)
          if (b >= 'A' && b <= 'Z') hasUpper = true
          j += 1
        }
        if (!hasUpper) out += UTF8String.fromBytes(bytes, s, t - s) // zero-copy
        else {
          val copy = java.util.Arrays.copyOfRange(bytes, s, t)
          var k = 0
          while (k < copy.length) {
            val b = copy(k)
            if (b >= 'A' && b <= 'Z') copy(k) = (b + 32).toByte
            k += 1
          }
          out += UTF8String.fromBytes(copy)
        }
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Fused tokenizer generator: emits one `word` row per surviving token.
  *
  * Replaces `Generate(explode(split(text, "\\s+"))) → Project(normalize)
  * → Filter(length > 0)` with a single Generate and no regex engine and
  * no per-token row allocation. The reference does this fusion
  * implicitly in its read loop (`sequential.cpp:65-72`).
  *
  * Implemented as a [[CollectionGenerator]] (the explode family's
  * contract) rather than a `CodegenFallback` Generator: `doGenCode`
  * emits the per-line token array via one static call and GenerateExec's
  * `codeGenCollection` inlines the element loop into whole-stage
  * codegen, so the scan → tokenize → partial-aggregate pipeline stays
  * one generated loop. The round-2 fallback form allocated one
  * GenericInternalRow per token and broke the codegen span at the
  * hottest operator in the engine (2.66M tokens on the 15 MB corpus —
  * the #1 CPU line in BENCH_r02's corpus breakdown).
  */
case class TokenizeNormalize(child: Expression)
    extends UnaryExpression with CollectionGenerator {

  override def inline: Boolean = false
  override def position: Boolean = false
  override def collectionType: DataType = ArrayType(StringType, containsNull = false)

  override def elementSchema: StructType =
    StructType(StructField("word", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokenize_normalize requires STRING, got ${other.sql}")
  }

  /** Interpreted path (non-WSCG GenerateExec): one mutable row reused
    * across tokens — GenerateExec projects each row into its unsafe
    * output buffer before requesting the next, so the reuse is safe. */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val arr = TokenizeNormalizeImpl.tokenize(v.asInstanceOf[UTF8String])
    val n = arr.numElements()
    val row = new GenericInternalRow(1)
    new Iterator[InternalRow] {
      private var i = 0
      override def hasNext: Boolean = i < n
      override def next(): InternalRow = {
        row.update(0, arr.getUTF8String(i))
        i += 1
        row
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenizeNormalizeImpl.tokenize($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeNormalize =
    copy(child = newChild)

  override def prettyName: String = "tokenize_normalize"
}

object TokenizeNormalize {
  /** Column API: emits a generated column named `word`. */
  def apply(c: Column): Column = Shim.column(TokenizeNormalize(Shim.expression(c)))
}
