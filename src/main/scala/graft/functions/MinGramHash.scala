package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd min-sampling document fingerprint: `min_gram_hash60(text)` =
  * MIN over every 8-char rolling window g of the shared 60-bit hash
  * (`conv(substr(md5(g),1,15),16,10)`), i.e. the first 60 bits of MD5.
  *
  * Semantically identical to
  * `min(hash60(explode(transform(sequence(0, length(text)-8), i ->
  * substring(text, i+1, 8)))))` but computed in ONE pass per row: the
  * explode form materializes n_chars rows per document before the min
  * aggregation — a ~100× row blowup on a 100 TB corpus — while this
  * expression folds the min inside the scan stage with zero row
  * expansion, no shuffle, and no hex-string detour (MD5 bytes fold
  * straight into the 60-bit value).
  *
  * Returns NULL for texts shorter than 8 code points (callers filter
  * `n_chars >= 8`, matching the declared-query semantics).
  */
case class MinGramHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "min_gram_hash60"

  override protected def nullSafeEval(input: Any): Any = {
    val r = MinGramHash60.compute(input.asInstanceOf[UTF8String])
    if (r == Long.MaxValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = graft.functions.MinGramHash60.compute($x);
         |if (${ev.value} == Long.MAX_VALUE) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinGramHash60 =
    copy(child = newChild)
}

object MinGramHash60 {

  private val GramLen = 8

  /** Long.MaxValue signals "no gram" (text shorter than 8 code points);
    * real hashes are < 2^60 so the sentinel can never collide.
    */
  def compute(s: UTF8String): Long = {
    val n = s.numChars()
    if (n < GramLen) return Long.MaxValue
    val md = Hash60.md5()
    val out = new Array[Byte](16)
    var best = Long.MaxValue
    if (s.numBytes() == n) {
      // ASCII fast path (bytes == code points): window over the raw byte
      // array with zero per-gram allocation — the scan-stage hot loop
      val bytes = s.getBytes
      var i = 0
      while (i <= n - GramLen) {
        md.update(bytes, i, GramLen)
        md.digest(out, 0, 16)
        val v = Hash60.fold60(out)
        if (v < best) best = v
        i += 1
      }
    } else {
      var i = 0
      while (i <= n - GramLen) {
        // code-point substring — same semantics as Spark's substring()
        val d = md.digest(s.substring(i, i + GramLen).getBytes)
        val v = Hash60.fold60(d)
        if (v < best) best = v
        md.reset()
        i += 1
      }
    }
    best
  }
}
