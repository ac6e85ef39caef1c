package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Dense-vector kernels as native expressions. The higher-order
  * `aggregate(zip_with(...))` formulation costs ~6 µs per 64-dim pair
  * (per-element lambda dispatch); these are tight primitive loops with
  * the SAME left-to-right accumulation order, so results are
  * bit-identical to the fold — and to engines that loop the same way
  * (the DuckDB oracle's list_dot_product).
  */
object VecMath {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  def l2(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

abstract class BinaryVecExpression extends Expression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  protected def kernel: String // static method name on VecMath
  protected def compute(a: ArrayData, b: ArrayData): Double

  override def eval(input: InternalRow): Any = {
    val a = children(0).eval(input)
    val b = children(1).eval(input)
    if (a == null || b == null) null
    else compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.VecMath.$kernel(
          ${evals(0).value}, ${evals(1).value});
      }""")
  }
}

/** Sequential dot product Σ aᵢ·bᵢ over array<double> columns. */
case class VecDot(a: Expression, b: Expression) extends BinaryVecExpression {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(a, b)
  override def prettyName: String = "vec_dot"
  override protected def kernel: String = "dot"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    VecMath.dot(a, b)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(a = newChildren(0), b = newChildren(1))
}

/** Squared euclidean distance Σ (aᵢ−bᵢ)² over array<double> columns. */
case class VecL2(a: Expression, b: Expression) extends BinaryVecExpression {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(a, b)
  override def prettyName: String = "vec_l2"
  override protected def kernel: String = "l2"
  override protected def compute(a: ArrayData, b: ArrayData): Double =
    VecMath.l2(a, b)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(a = newChildren(0), b = newChildren(1))
}
