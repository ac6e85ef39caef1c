package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the circle–segment clipped length —
  * the operator Spark's built-ins genuinely can't express (SURVEY.md §2
  * preference order (b): custom Expression with doGenCode before any
  * UDF). Generated code is a direct static call into GeoMath, so the
  * expression stays inside whole-stage codegen with no boxing and no
  * UDF serialization boundary.
  *
  * Args: cx, cy, r, x1, y1, x2, y2 (all DOUBLE) → DOUBLE.
  */
case class ClippedSegmentLength(cx: Expression, cy: Expression, r: Expression,
    x1: Expression, y1: Expression, x2: Expression, y2: Expression)
    extends Expression with ImplicitCastInputTypes {
  override def prettyName: String = "clipped_segment_length"

  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(cx, cy, r, x1, y1, x2, y2)

  // analysis-time implicit casts instead of interpreted-path
  // ClassCastExceptions on mistyped SQL literals
  override def inputTypes: Seq[DataType] = Seq.fill(7)(DoubleType)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Double](7)
    var i = 0
    while (i < 7) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Double]
      i += 1
    }
    GeoMath.clippedSegmentLength(vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = evals.map(_.value).mkString(", ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.GeoMath.clippedSegmentLength($args);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), newChildren(5), newChildren(6))
}
