package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** `sum_prod_long(a, b)` — exact Σ a·b over BIGINT columns, returned as
  * DECIMAL(38,0), accumulating in a LONG register while that is provably
  * safe and escaping to DECIMAL(38,0) exactly at the first row where it is
  * not (VERDICT r18 #6; guide §"per-task work": the hot pair-aggregate of
  * q259 spends its time in per-row 128-bit decimal multiply-adds that the
  * data almost never needs).
  *
  * Semantics are those of `SUM(CAST(a AS DECIMAL(38,0)) * b)` with one
  * deliberate difference at the 10³⁸ boundary: a running total past
  * DECIMAL(38,0) RAISES (like DuckDB's HUGEINT at ~1.7e38, and like the
  * plain-decimal plan under the shipped ANSI mode) in every session mode,
  * rather than non-ANSI Spark's silent NULL. Proof obligations covered by
  * SumProdLongSpec: equality with the decimal plan across the long-product
  * overflow boundary, the accumulator overflow boundary, negative inputs,
  * nulls, empty groups, and merge-path (partial-aggregate) splits.
  *
  * Exactness argument: the fast path adds `a*b` to the LONG register only
  * when (i) both inputs are non-negative, (ii) the product cannot exceed
  * Long.Max (`b == 0 || a <= Long.Max div b` — sound because for positive
  * b, a·b ≤ Long.Max ⟺ a ≤ ⌊Long.Max / b⌋), and (iii) the add cannot
  * (`l ≤ Long.Max − a·b`). Any row failing the guards folds the register
  * into the decimal side exactly (`d' = d + l + a·b` in DECIMAL) and the
  * register stays 0 from then on, so register + decimal ≡ the true sum at
  * every step. The LONG product and the guard's division each sit in an
  * `If` branch under their own guard, so no overflowing or dividing-by-zero
  * LONG op is evaluated whatever order Catalyst evaluates `And`/`Or`
  * operands in (subexpression elimination included) — ANSI-safe.
  * Everything is expression-level (DeclarativeAggregate), so the aggregate
  * stays inside whole-stage codegen with a fixed-width UnsafeRow buffer.
  */
case class SumProdLong(left: Expression, right: Expression)
  extends DeclarativeAggregate with BinaryLike[Expression] {

  override def prettyName: String = "sum_prod_long"
  override def nullable: Boolean = true
  private val dec38 = DecimalType(38, 0)
  override def dataType: DataType = dec38

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sum_prod_long requires BIGINT columns, got " +
        s"${left.dataType} / ${right.dataType}")

  private lazy val lsum =
    AttributeReference("lsum", LongType, nullable = false)()
  // dsum is NULL until the first escape; after it, lsum stays 0 and dsum
  // carries the exact total (overflow past 38 digits raises, so a NULL
  // dsum can never mean anything but "fast path so far")
  private lazy val dsum = AttributeReference("dsum", dec38, nullable = true)()
  private lazy val empty =
    AttributeReference("empty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lsum, dsum, empty)

  private def lit0 = Literal(0L)
  private def maxL = Literal(Long.MaxValue)
  private def nullDec = Literal.create(null, dec38)
  private def zeroDec = Literal(Decimal(0), dec38)
  private def toDec(e: Expression) = Cast(e, dec38)
  private def chk(e: Expression) = CheckOverflow(e, dec38, nullOnOverflow = false)

  override lazy val initialValues: Seq[Expression] =
    Seq(lit0, nullDec, Literal(true))

  override lazy val updateExpressions: Seq[Expression] = {
    val a = left
    val b = right
    val inNull = Or(IsNull(a), IsNull(b))
    // product fits LONG: non-negative inputs and a ≤ Long.Max div b. The
    // divisor is never 0 (b = 0 passes through the EqualTo arm anyway) and
    // the multiply is an If branch under the predicate; a row failing the
    // guard reads prod = 0, which the escape below never uses.
    val bIsZero = EqualTo(b, lit0)
    val prodSafe = And(
      And(GreaterThanOrEqual(a, lit0), GreaterThanOrEqual(b, lit0)),
      Or(bIsZero, LessThanOrEqual(a, IntegralDivide(maxL, If(bIsZero, Literal(1L), b)))))
    val prod = If(prodSafe, Multiply(a, b), lit0)
    val fast = And(And(IsNull(dsum), prodSafe),
      LessThanOrEqual(lsum, Subtract(maxL, prod)))
    // escape: fold the register in exactly once, decimal-multiply this row
    val slowD = chk(Add(
      chk(Add(Coalesce(Seq(dsum, zeroDec)), toDec(lsum))),
      chk(Multiply(toDec(a), toDec(b)))))
    Seq(
      If(inNull, lsum, If(fast, Add(lsum, prod), lit0)),
      If(inNull, dsum, If(fast, dsum, slowD)),
      And(empty, inNull))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val bothFast = And(And(IsNull(dsum.left), IsNull(dsum.right)),
      LessThanOrEqual(lsum.left, Subtract(maxL, lsum.right)))
    val slowD = chk(Add(
      chk(Add(Coalesce(Seq(dsum.left, zeroDec)),
        Coalesce(Seq(dsum.right, zeroDec)))),
      chk(Add(toDec(lsum.left), toDec(lsum.right)))))
    Seq(
      If(bothFast, Add(lsum.left, lsum.right), lit0),
      If(bothFast, nullDec, slowD),
      And(empty.left, empty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(empty, nullDec, If(IsNull(dsum), toDec(lsum), dsum))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SumProdLong =
    copy(left = newLeft, right = newRight)
}

object SumProdLong {
  def build(es: Seq[Expression]): Expression = {
    require(es.length == 2, s"sum_prod_long(a, b) takes 2 args, got ${es.length}")
    SumProdLong(es(0), es(1))
  }
}
