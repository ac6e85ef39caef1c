package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType}

/** Ray-casting point-in-polygon test over vertex arrays — real polygon
  * semantics (the reference's ST_Intersects/ST_Contains on landuse/OA
  * polygons) without a geometry library. Polygons are (xs, ys) DOUBLE
  * arrays of ring vertices (closed implicitly).
  *
  * Args: px, py (DOUBLE), xs, ys (ARRAY<DOUBLE>) → BOOLEAN.
  * Even-odd rule; boundary points follow a half-open edge convention
  * (consistent, partition-invariant).
  */
object PolyMath {
  def contains(px: Double, py: Double, xs: ArrayData, ys: ArrayData): Boolean = {
    val n = xs.numElements()
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = xs.getDouble(i); val yi = ys.getDouble(i)
      val xj = xs.getDouble(j); val yj = ys.getDouble(j)
      if ((yi > py) != (yj > py) &&
          px < (xj - xi) * (py - yi) / (yj - yi) + xi) {
        inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }
}

case class PointInPolygon(px: Expression, py: Expression, xs: Expression,
    ys: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(px, py, xs, ys)
  override def prettyName: String = "point_in_polygon"

  // analysis-time implicit casts instead of interpreted-path
  // ClassCastExceptions on mistyped SQL literals
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val px = children(0).eval(input)
    val py = children(1).eval(input)
    val xs = children(2).eval(input)
    val ys = children(3).eval(input)
    if (px == null || py == null || xs == null || ys == null) null
    else PolyMath.contains(px.asInstanceOf[Double], py.asInstanceOf[Double],
      xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.PolyMath.contains(
          ${evals(0).value}, ${evals(1).value},
          ${evals(2).value}, ${evals(3).value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}
