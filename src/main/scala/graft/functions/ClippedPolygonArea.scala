package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the exact circle∩polygon area — the
  * reference's ST_Area(ST_Intersection(buffer, polygon)) (see
  * GeoMath.circlePolyArea for the kernel + citation). doGenCode is a
  * direct static call, so the expression stays inside whole-stage
  * codegen with no boxing and no UDF boundary.
  *
  * Args: cx, cy, r (DOUBLE), xs, ys (ARRAY<DOUBLE> ring vertices,
  * closed implicitly) → DOUBLE.
  */
case class ClippedPolygonArea(cx: Expression, cy: Expression, r: Expression,
    xs: Expression, ys: Expression)
    extends Expression with ImplicitCastInputTypes {
  override def prettyName: String = "clipped_polygon_area"

  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(cx, cy, r, xs, ys)

  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType,
      ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val cx = children(0).eval(input)
    val cy = children(1).eval(input)
    val r = children(2).eval(input)
    val xs = children(3).eval(input)
    val ys = children(4).eval(input)
    if (cx == null || cy == null || r == null || xs == null || ys == null) null
    else GeoMath.circlePolyArea(
      cx.asInstanceOf[Double], cy.asInstanceOf[Double], r.asInstanceOf[Double],
      xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.GeoMath.circlePolyArea(
          ${evals(0).value}, ${evals(1).value}, ${evals(2).value},
          ${evals(3).value}, ${evals(4).value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4))
}
