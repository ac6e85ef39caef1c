package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native WKT text egress — the compiled replacement for the
  * `zip_with(xs, ys, (x, y) -> concat(cast(x as string), ' ',
  * cast(y as string)))` + `concat_ws` column chains (Wkt.toWkt*).
  * Catalyst evaluates the zip_with lambda INTERPRETED per vertex, and
  * every coordinate pays a `Double.toString` String, a UTF8String
  * wrap, and a concat copy before `concat_ws` copies everything again;
  * these kernels append every coordinate of the geometry into ONE
  * JDK StringBuilder (whose `append(double)` IS the same
  * `Double.toString` shortest-round-trip formatting Spark's
  * double→string cast bottoms out in — `UTF8String.fromString(
  * String.valueOf(d))`) and wrap the row's text once. Formatting is
  * therefore bit-identical to the cast chain (pinned per shape in
  * WktTextSpec over the real Derive geometry distributions), so the
  * parse∘format roundtrip certification is unchanged.
  *
  * Null handling: a NULL input array/coordinate yields NULL (the
  * nullSafeEval contract — the concat chain nulls out identically);
  * ragged xs/ys fail loudly (the chains silently padded with nulls,
  * but ragged vertex arrays are a data defect no geometry source here
  * can produce, and loud beats silent truncation).
  */
object WktTextMath {
  private def vertices(sb: java.lang.StringBuilder,
                       xs: ArrayData, ys: ArrayData, close: Boolean): Unit = {
    val n = xs.numElements()
    require(ys.numElements() == n,
      s"ragged WKT vertex arrays: ${n} xs vs ${ys.numElements()} ys")
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(", ")
      sb.append(xs.getDouble(i)).append(' ').append(ys.getDouble(i))
      i += 1
    }
    if (close && n > 0)
      sb.append(", ").append(xs.getDouble(0)).append(' ')
        .append(ys.getDouble(0))
  }

  def pointText(x: Double, y: Double): UTF8String = {
    val sb = new java.lang.StringBuilder(48)
    sb.append("POINT (").append(x).append(' ').append(y).append(')')
    UTF8String.fromString(sb.toString)
  }

  def lineText(xs: ArrayData, ys: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder(16 + 48 * xs.numElements())
    sb.append("LINESTRING (")
    vertices(sb, xs, ys, close = false)
    sb.append(')')
    UTF8String.fromString(sb.toString)
  }

  /** Open vertex arrays → `POLYGON ((…))`, ring closed textually —
    * toWktPolygon's shape. */
  def polyText(xs: ArrayData, ys: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder(20 + 48 * (xs.numElements() + 1))
    sb.append("POLYGON ((")
    vertices(sb, xs, ys, close = true)
    sb.append("))")
    UTF8String.fromString(sb.toString)
  }

  private def ringList(sb: java.lang.StringBuilder,
                       rxs: ArrayData, rys: ArrayData): Unit = {
    val nr = rxs.numElements()
    require(rys.numElements() == nr,
      s"ragged WKT ring arrays: ${nr} rxs vs ${rys.numElements()} rys")
    var r = 0
    while (r < nr) {
      if (r > 0) sb.append(", ")
      sb.append('(')
      vertices(sb, rxs.getArray(r), rys.getArray(r), close = true)
      sb.append(')')
      r += 1
    }
  }

  /** Nested open ring arrays → `POLYGON ((outer), (hole), …)` —
    * toWktPolygonRings' shape. */
  def ringsText(rxs: ArrayData, rys: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("POLYGON (")
    ringList(sb, rxs, rys)
    sb.append(')')
    UTF8String.fromString(sb.toString)
  }

  /** Array of struct(rxs, rys) parts → `MULTIPOLYGON (…)` —
    * toWktMultiPolygon's shape. */
  def multiText(parts: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder(512)
    sb.append("MULTIPOLYGON (")
    val np = parts.numElements()
    var p = 0
    while (p < np) {
      if (p > 0) sb.append(", ")
      val part = parts.getStruct(p, 2)
      sb.append('(')
      ringList(sb, part.getArray(0), part.getArray(1))
      sb.append(')')
      p += 1
    }
    sb.append(')')
    UTF8String.fromString(sb.toString)
  }
}

case class WktPointText(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType)
  override def dataType: DataType = StringType
  override def prettyName: String = "wkt_point_text"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    WktTextMath.pointText(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.WktTextMath.pointText($x, $y)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class WktLineText(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = StringType
  override def prettyName: String = "wkt_line_text"
  override protected def nullSafeEval(xs: Any, ys: Any): Any =
    WktTextMath.lineText(xs.asInstanceOf[ArrayData],
      ys.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, ys) =>
      s"graft.functions.WktTextMath.lineText($xs, $ys)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class WktPolyText(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = StringType
  override def prettyName: String = "wkt_poly_text"
  override protected def nullSafeEval(xs: Any, ys: Any): Any =
    WktTextMath.polyText(xs.asInstanceOf[ArrayData],
      ys.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, ys) =>
      s"graft.functions.WktTextMath.polyText($xs, $ys)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class WktRingsText(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = StringType
  override def prettyName: String = "wkt_rings_text"
  override protected def nullSafeEval(rxs: Any, rys: Any): Any =
    WktTextMath.ringsText(rxs.asInstanceOf[ArrayData],
      rys.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (rxs, rys) =>
      s"graft.functions.WktTextMath.ringsText($rxs, $rys)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** parts: ARRAY<STRUCT<rxs: ARRAY<ARRAY<DOUBLE>>,
  * rys: ARRAY<ARRAY<DOUBLE>>>> — field order is positional (rxs
  * first), matching toWktMultiPolygon's struct construction. */
case class WktMultiText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "wkt_multi_text"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(a, b)), _)
        if Seq(a, b).forall(_.dataType match {
          case ArrayType(ArrayType(DoubleType, _), _) => true
          case _ => false
        }) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"wkt_multi_text expects array<struct<rxs, rys>>, got $other")
    }
  override protected def nullSafeEval(parts: Any): Any =
    WktTextMath.multiText(parts.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p =>
      s"graft.functions.WktTextMath.multiText($p)")
  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
