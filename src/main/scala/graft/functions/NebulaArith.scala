package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Concat,
  DateAdd, Divide, EqualTo, Expression, If, IntegralDivide, Literal,
  Remainder, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Shared type plumbing for the value-model arithmetic dispatchers.
  * A RuntimeReplaceable's replacement tree is NOT re-analyzed, so all
  * numeric widening casts must be explicit. */
private[functions] object NebulaArith {
  def widen(a: DataType, b: DataType): DataType =
    if (a == DoubleType || b == DoubleType ||
        a == FloatType || b == FloatType) DoubleType else LongType
  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}

/** Value-model `+` (reference Value.cpp operator+): when either
  * operand is a STRING the addition is concatenation (`"ab" + 1` →
  * `"ab1"`, `1 + "ab"` → `"1ab"`); numeric operands add numerically;
  * two lists concatenate (`[1, 2] + [3]` → `[1, 2, 3]`).
  * The dispatch needs the operands' resolved types, so it happens at
  * analysis time via RuntimeReplaceable — the nGQL compiler sees only
  * untyped Columns. Unsupported operand pairs throw the same
  * IllegalArgumentException the compiler throws for unsupported
  * surface (callers treat it as a static type reject). */
case class NebulaAdd(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  import NebulaArith._
  override lazy val replacement: Expression =
    (left.dataType, right.dataType) match {
      case (_: StringType, _) | (_, _: StringType) =>
        Concat(Seq(Cast(left, StringType), Cast(right, StringType)))
      case (a: NumericType, b: NumericType) =>
        val w = widen(a, b)
        Add(Cast(left, w), Cast(right, w))
      case (NullType, _) | (_, NullType) => Literal.create(null, NullType)
      case (DateType, b) if isIntegral(b) =>
        DateAdd(left, Cast(right, IntegerType))
      case (a, DateType) if isIntegral(a) =>
        DateAdd(right, Cast(left, IntegerType))
      case (ArrayType(a, _), ArrayType(b, _)) =>
        val t = ArrayType((a, b) match {
          case _ if a == b => a
          case (x: NumericType, y: NumericType) => widen(x, y)
          case (NullType, y) => y
          case (x, NullType) => x
          case _ => StringType
        })
        Concat(Seq(Cast(left, t), Cast(right, t)))
      case (a, b) =>
        throw new IllegalArgumentException(s"bad operands for +: $a, $b")
    }
  override def prettyName: String = "nebula_add"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NebulaAdd =
    copy(left = newLeft, right = newRight)
}

/** Value-model `/` and (`remainder`) `%`: integer ÷ integer is
  * INTEGRAL division truncating toward zero (C++ semantics, `47 / 10`
  * → 4, `-7 % 2` → -1), an integer zero divisor → NULL (DIV_BY_ZERO);
  * any float operand divides as double. */
case class NebulaDivide(left: Expression, right: Expression,
                        remainder: Boolean = false)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  import NebulaArith._
  override lazy val replacement: Expression =
    (left.dataType, right.dataType) match {
      case (a, b) if isIntegral(a) && isIntegral(b) =>
        val (l, r) = (Cast(left, LongType), Cast(right, LongType))
        If(EqualTo(r, Literal(0L)), Literal.create(null, LongType),
          if (remainder) Remainder(l, r) else IntegralDivide(l, r))
      case (_: NumericType, _: NumericType) =>
        val (l, r) = (Cast(left, DoubleType), Cast(right, DoubleType))
        if (remainder) Remainder(l, r) else Divide(l, r)
      case (NullType, _) | (_, NullType) => Literal.create(null, NullType)
      case (a, b) =>
        throw new IllegalArgumentException(
          s"bad operands for ${if (remainder) "%" else "/"}: $a, $b")
    }
  override def prettyName: String =
    if (remainder) "nebula_remainder" else "nebula_divide"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NebulaDivide =
    copy(left = newLeft, right = newRight)
}
