package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types._

/** Exact fixed-point SUM over a double column: `Σ round(x · 10^scale)` as
  * a hi/lo pair of longs, for inputs whose true values are fixed-point
  * decimals of at most `scale` digits (TPC-H money/quantity columns and
  * their low-degree products). Under that contract the scaled per-row
  * value is a true INTEGER the double carries with error ≪ 0.5, so the
  * nearest-long conversion is exact and tie-free in every engine, and the
  * whole aggregation is long arithmetic — no per-row BigDecimal
  * allocation, no decimal adds in the buffer. Profiled at sf5 (q70 /
  * q1-family rework): Spark's DECIMAL(28,_) sum machinery cost 4× the
  * underlying arithmetic; this buffer is two longs inside whole-stage
  * codegen.
  *
  * Returns `struct<hi, lo>` with `Σ = hi · 10⁷ + lo` (NULL when no
  * non-null input, matching SUM). The caller recombines in ordinary
  * Column land, where the analyzer inserts the decimal overflow checks:
  * see [[FixedPointSum.exact]]. Split at 10⁷ ≈ √(max scaled product)
  * keeps BOTH ANSI long sums overflow-free to ~8·10¹¹ rows per group
  * (≈ 130 TB of lineitem); past that the ANSI Add fails loudly rather
  * than wrapping.
  *
  * Deliberately NOT a drop-in for arbitrary doubles: inputs with more
  * true decimals than `scale` would hit real per-row rounding whose
  * tie-breaking differs between engines' decimal casts — callers keep
  * the DECIMAL path for those (none exist today; see Relational.dsum).
  */
final case class FixedPointSumHL(child: Expression, scale: Int)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = FixedPointSum.hlType
  override def prettyName: String = "graft_fixed_sum_hl"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a DOUBLE input")
    else if (scale < 0 || scale > 6)
      TypeCheckResult.TypeCheckFailure(s"$prettyName scale must be in [0, 6]")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val hi =
    AttributeReference("fps_hi", LongType, nullable = false)()
  private lazy val lo =
    AttributeReference("fps_lo", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("fps_seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** nearest-long(x · 10^scale), half away from zero — exact and tie-free
    * under the fixed-point input contract (the true scaled value is an
    * integer and the double is within ≪ 0.5 of it). ANSI casts make
    * NaN/±Inf/overflow loud instead of silent.
    */
  private def scaledLong: Expression = {
    val x = Multiply(child, Literal(math.pow(10, scale)))
    def toLong(e: Expression) = Cast(e, LongType, None, EvalMode.ANSI)
    If(GreaterThanOrEqual(child, Literal(0.0)),
      toLong(Add(x, Literal(0.5))),
      toLong(Subtract(x, Literal(0.5))))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = If(IsNull(child), Literal(0L), scaledLong)
    Seq(
      Add(hi, IntegralDivide(v, Literal(FixedPointSum.Split))),
      Add(lo, Remainder(v, Literal(FixedPointSum.Split))),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add(hi.left, hi.right),
    Add(lo.left, lo.right),
    Or(seen.left, seen.right))

  override lazy val evaluateExpression: Expression =
    If(seen,
      CreateNamedStruct(Seq(
        Literal("hi"), hi, Literal("lo"), lo)),
      Literal(null, FixedPointSum.hlType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FixedPointSumHL =
    copy(child = newChildren.head)
}

object FixedPointSum {
  /** hi/lo split point: 10⁷ ≈ √(9.2·10¹⁸ / max rows-per-group). */
  val Split = 10000000L

  private[plans] val hlType: DataType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  /** `Σ round(c · 10^scale) / 10^scale` as an EXACT decimal Column — the
    * hi/lo aggregate recombined in analyzed Column land (the analyzer
    * inserts the decimal precision/overflow machinery): value =
    * (hi·10⁷ + lo) · 10^-scale, every step exact for totals below
    * 10³² / 10^scale.
    */
  def exact(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.functions._
    // resolved via the GraftExtensions registry (Tables registers it on
    // every session); the analyzer wraps the bare AggregateFunction
    val hl = call_function("graft_fixed_sum_hl", c, lit(scale))
    val unscaled = hl("hi").cast(DecimalType(38, 0)) * lit(Split) + hl("lo")
    unscaled * lit(BigDecimal(java.math.BigDecimal.ONE.movePointLeft(scale)))
  }
}
