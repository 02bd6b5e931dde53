package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen'd one-pass seeded-minhash bank: `min_hashes60(hs, nMh)` =
  * the array of `nMh` minima `min_h (a_j·h + b_j) mod P` over the
  * row's shingle-hash set `hs`, with the universal family
  * `a_j/b_j` defined below (the one definition of the family: the
  * batch minhash stage, the streaming gate/admit banding and the DuckDB
  * oracle SQL all read it from here).
  *
  * Semantically identical to `nMh` separate
  * `array_min(transform(hs, h -> (a_jL * h + b_jL) % PL))` columns
  * (pinned element-for-element in BandingSpec/PipelineOpsSpec against
  * an explicit `min` aggregate) but computed in ONE primitive pass: the
  * higher-order form is interpreted — outside whole-stage codegen and
  * its subexpression elimination — and allocates a boxed intermediate
  * array PER MINHASH per row, which at the corpus-derived banding
  * depth ((7,5) = 35 minhashes at the 500k-doc rehearsal) makes the
  * per-row banding projection the dominant cost of the streaming
  * gate/admit serving paths. This is that projection's hot loop.
  *
  * Null/empty semantics mirror the expression-tree form exactly:
  * null `hs` → null; EMPTY `hs` → an array of `nMh` NULLs (array_min
  * of an empty array is null), so `concat_ws` still renders the empty
  * signature for under-3-word docs; null elements are skipped (as
  * array_min skips nulls). `nMh` must be a foldable integer literal.
  */
case class MinHashes60(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.foldable &&
        right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, int literal), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = left.nullable

  override def prettyName: String = "min_hashes60"

  @transient private lazy val nMh: Int =
    right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(arr: Any, unused: Any): Any =
    MinHashes60.compute(arr.asInstanceOf[ArrayData], nMh)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) =>
      s"${ev.value} = graft.functions.MinHashes60.compute($arr, $nMh);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashes60 =
    copy(left = newLeft, right = newRight)
}

object MinHashes60 {

  /** Universal-hash family for MinHash: one md5 per shingle, then
    * `h_j = (a_j * (h mod P) + b_j) mod P` with P < 2^30 so every
    * product stays below 2^60 — exact, overflow-free 64-bit arithmetic
    * on any engine. The constants derive from a fixed LCG so the oracle
    * SQL embeds the same literals.
    */
  val P: Long = 1073741789L
  def mhA(j: Int): Long = (1103515245L * (j + 1) + 12345L) % P
  def mhB(j: Int): Long = (1103515245L * (j + 101) + 54321L) % P

  /** (a, b) constant banks, cached per depth (one per JVM per nMh). */
  private val consts =
    new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]()

  private def constsFor(nMh: Int): (Array[Long], Array[Long]) =
    consts.computeIfAbsent(nMh, n =>
      (Array.tabulate(n)(mhA), Array.tabulate(n)(mhB)))

  def compute(hs: ArrayData, nMh: Int): GenericArrayData = {
    val n = hs.numElements()
    if (n == 0) {
      // array_min over an empty transform is null per minhash
      return new GenericArrayData(new Array[Any](nMh))
    }
    val (as, bs) = constsFor(nMh)
    val out = new Array[Long](nMh)
    java.util.Arrays.fill(out, Long.MaxValue)
    var sawValue = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) { // transform maps null -> null; array_min skips
        sawValue = true
        val h = hs.getLong(i)
        var j = 0
        while (j < nMh) {
          val v = (as(j) * h + bs(j)) % P
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!sawValue) new GenericArrayData(new Array[Any](nMh))
    else new GenericArrayData(out)
  }
}
