package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd fixed-stride span hashing: `span_hashes60(text)` = the array
  * of shared 60-bit hashes (`conv(substr(md5(w),1,15),16,10)`) of every
  * [[SpanHashes60.SpanW]]-char window at stride [[SpanHashes60.SpanStride]]
  * — the per-row form of the `text_spans` stage geometry (operators.Text
  * q116/q117 and the streaming contamination audit).
  *
  * Semantically identical to
  * `transform(sequence(1, length(text)-59, 30), p ->
  *   CAST(conv(substr(md5(CAST(substring(text,p,60) AS BINARY)),1,15),16,10)
  *   AS BIGINT))`
  * (pinned in SpanDedupSpec) but computed in ONE pass per row: the
  * expression-tree form allocates a substring, a binary cast, a 32-char
  * hex string and a string→long conv PER WINDOW; this folds the MD5
  * bytes straight into the 60-bit value with zero per-window allocation
  * on the ASCII fast path. On a 100 TB corpus the span-stage build is a
  * full corpus pass — this is its hot loop.
  *
  * Returns an EMPTY array for texts shorter than one window (matching
  * the stage's `length(text) >= 60` filter semantics).
  */
case class SpanHashes60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "span_hashes60"

  override protected def nullSafeEval(input: Any): Any =
    SpanHashes60.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"${ev.value} = graft.functions.SpanHashes60.compute($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): SpanHashes60 =
    copy(child = newChild)
}

object SpanHashes60 {

  /** Window / stride — the single source of truth for the span geometry
    * (operators.Text.SpanW/SpanStride alias these). */
  val SpanW = 60
  val SpanStride = 30

  private val Empty = new GenericArrayData(new Array[Long](0))

  def compute(s: UTF8String): GenericArrayData = {
    val n = s.numChars()
    if (n < SpanW) return Empty
    val md = Hash60.md5()
    val out = new Array[Byte](16)
    val vals = new Array[Long]((n - SpanW) / SpanStride + 1)
    if (s.numBytes() == n) {
      // ASCII fast path (bytes == code points): window over the raw byte
      // array with zero per-span allocation
      val bytes = s.getBytes
      var i = 0
      var k = 0
      while (i <= n - SpanW) {
        md.update(bytes, i, SpanW)
        md.digest(out, 0, 16)
        vals(k) = Hash60.fold60(out)
        k += 1
        i += SpanStride
      }
    } else {
      var i = 0
      var k = 0
      while (i <= n - SpanW) {
        // code-point substring — same semantics as Spark's substring()
        vals(k) = Hash60.fold60(md.digest(s.substring(i, i + SpanW).getBytes))
        md.reset()
        k += 1
        i += SpanStride
      }
    }
    new GenericArrayData(vals)
  }
}
