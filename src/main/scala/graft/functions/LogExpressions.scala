package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

import graft.functions.Kernels.{BinaryKernel, expect}

/** Fixed-point base-2 logarithm — the exactness backbone of the q100
  * LM screen ([[graft.operators.LmScreen]]).
  *
  * `log2mb(a, b)` = floor-semantics log2(b/a) in 1/1024-bit units for
  * int64 `1 ≤ a ≤ b < 2⁶²`, defined by an integer-only algorithm the
  * DuckDB oracle replays digit-for-digit as chained CTEs
  * ([[graft.operators.LmScreen.log2mbSqlCtes]]):
  *
  *   1. exponent: k = ⌊log2(b DIV a)⌋ (a compare-and-halve cascade in
  *      SQL; `Long.numberOfLeadingZeros` here — the same function);
  *   2. mantissa: r = ⌊b·2³⁰ / (a·2ᵏ)⌋ ∈ [2³⁰, 2³¹) via the restoring-
  *      division recurrence rem ← 2·rem − [2·rem ≥ d]·d (30 steps —
  *      2·rem < 2⁶³ for any b < 2⁶², so the product b·2³⁰ that would
  *      overflow int64 is never formed);
  *   3. fraction: 10 squaring steps (r ← ⌊r²·2⁻³⁰⌋; emit a bit and
  *      halve when r ≥ 2) — binary logarithm by repeated squaring,
  *      every step a floor on int64.
  *
  * Exact at every power of two; ≤ 2/1024 bit below the true log
  * elsewhere (each squaring floors, so the error is one-sided).
  * One expression rather than a 46-step projection chain: the plan
  * holds one node, and generated code and interpreted evaluation both
  * run [[log2mbKernel]].
  */
object LogExpressions {

  /** THE kernel — run by both evaluation modes and by the specs. */
  def log2mbKernel(a: Long, b: Long): Long = {
    require(a >= 1 && b >= a && b < (1L << 62),
      s"log2mb domain: 1 <= a <= b < 2^62, got ($a, $b)")
    val k = 63 - java.lang.Long.numberOfLeadingZeros(b / a)
    val dd = a << k
    var rem = b - dd
    var facc = 0L
    var i = 0
    while (i < 30) {
      rem <<= 1
      if (rem >= dd) { rem -= dd; facc = facc * 2 + 1 } else facc *= 2
      i += 1
    }
    var r = (1L << 30) + facc
    var acc = 0L
    i = 0
    while (i < 10) {
      var sq = (r * r) >> 30
      if (sq >= (1L << 31)) { sq >>= 1; acc = acc * 2 + 1 } else acc *= 2
      r = sq
      i += 1
    }
    k.toLong * 1024 + acc
  }

  case class Log2FixedMb(left: Expression, right: Expression) extends BinaryKernel {

    override def checkInputDataTypes(): TypeCheckResult =
      expect(prettyName, "(bigint, bigint)", left, right) { case LongType => }
    override def dataType: DataType = LongType
    override def prettyName: String = "log2mb"

    def kernel(a: Long, b: Long): Long = log2mbKernel(a, b)
    override def nullSafeEval(a: Any, b: Any): Any =
      kernel(a.asInstanceOf[Long], b.asInstanceOf[Long])

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def log2mb(a: Column, b: Column): Column =
    ColumnBridge.column(Log2FixedMb(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
