package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve distance of a grid cell — the reference's
  * chunk_by_hilbert ordering key (duckpipe/calculator/Clustering.py:156
  * orders by ST_Hilbert). Hilbert preserves locality strictly better
  * than the Z-order curve (no long diagonal jumps), at the cost of an
  * iterative rotation loop — hence a native expression with doGenCode
  * (static call into the loop kernel) rather than a giant column
  * formula.
  *
  * Args: ix, iy (LONG grid coordinates), order n (LONG, side = 2^n).
  */
object HilbertMath {
  /** xy → d on a 2^n × 2^n Hilbert curve (standard rot/reflect walk). */
  def xy2d(n: Int, xIn: Long, yIn: Long): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = xIn; var y = yIn
    var s: Long = 1L << (n - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1L else 0L
      ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate quadrant
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

case class HilbertIndex(ix: Expression, iy: Expression, order: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(ix, iy, order)
  override def prettyName: String = "hilbert_index"

  // analysis-time implicit casts (INT literals → LONG) instead of
  // interpreted-path ClassCastExceptions
  override def inputTypes: Seq[DataType] = Seq.fill(3)(LongType)

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val ix = children(0).eval(input)
    val iy = children(1).eval(input)
    val n = children(2).eval(input)
    if (ix == null || iy == null || n == null) null
    else HilbertMath.xy2d(n.asInstanceOf[Long].toInt,
      ix.asInstanceOf[Long], iy.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.HilbertMath.xy2d(
          (int) ${evals(2).value}, ${evals(0).value}, ${evals(1).value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ix = newChildren(0), iy = newChildren(1), order = newChildren(2))
}
