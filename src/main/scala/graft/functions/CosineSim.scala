package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native cosine similarity over two numeric arrays, the reference's
  * cos_similarity, behind `Similarity.cosine` — bit-identical to the
  * declarative zip_with/aggregate form (left-to-right double folds:
  * dot / (sqrt(Σa²)·sqrt(Σb²)); length mismatch or a null element
  * yields NULL, matching zip_with/aggregate null semantics).
  *
  * Exists because the zip_with+aggregate form runs as interpreted
  * higher-order functions with per-row array allocation — fine in a
  * projection over N rows, ruinous inside a candidate-pair join where
  * it executes per PAIR (measured ~60 s for 15.6M pairs at sf1 in
  * q_embed_neardup; this expression does the same pairs in under a
  * second per core). Codegen'd via a static call. */
case class CosineSimExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cos_sim_native"

  // NULL is produced on length mismatch / null element even when both
  // children are non-nullable — without this override the optimizer
  // could fold IsNull(cos_sim) to false, and nullSafeCodeGen would
  // emit an assignment to a constant `false` isNull (uncompilable
  // codegen, silent interpreted fallback).
  override def nullable: Boolean = true

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType | DoubleType | LongType | IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cos_sim needs numeric arrays, got ${left.dataType} / ${right.dataType}")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpression =
    copy(left = newLeft, right = newRight)

  private def code(t: DataType): Int = t match {
    case ArrayType(FloatType, _) => 0
    case ArrayType(DoubleType, _) => 1
    case ArrayType(LongType, _) => 2
    case _ => 3
  }
  private lazy val lc = code(left.dataType)
  private lazy val rc = code(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.sim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lc, rc)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val res = nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |Double ${ev.value}Box =
         |  (Double) graft.functions.CosineSim.sim($a, $b, $lc, $rc);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Box.doubleValue(); }
       """.stripMargin
    })
    res
  }
}

object CosineSim {
  /** tc: 0=float 1=double 2=long 3=int element type. Returns
    * java.lang.Double, or null on length mismatch / null element
    * (zip_with's null semantics). */
  def sim(a: ArrayData, b: ArrayData, ta: Int, tb: Int): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = ta match {
        case 0 => a.getFloat(i).toDouble
        case 1 => a.getDouble(i)
        case 2 => a.getLong(i).toDouble
        case _ => a.getInt(i).toDouble
      }
      val y = tb match {
        case 0 => b.getFloat(i).toDouble
        case 1 => b.getDouble(i)
        case 2 => b.getLong(i).toDouble
        case _ => b.getInt(i).toDouble
      }
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // plain IEEE division like the declarative form (0/0 → NaN,
    // x/0 → ±Infinity) — no null-on-zero, the oracles replay IEEE
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpression(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
