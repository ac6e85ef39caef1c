package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** First-fit-decreasing bin count over a SORTED-ASCENDING size array
  * (walked in reverse = decreasing): the number of fixed-capacity
  * training sequences a greedy trainer-side packer opens for these
  * documents. Items are clamped to the capacity (an oversized doc
  * occupies one full sequence — it would be truncated by the trainer).
  *
  * The FFD simulation is inherently sequential, which is exactly why
  * it runs INSIDE one expression over a bounded per-bucket array
  * rather than as a plan: the caller hash-buckets documents first, so
  * each evaluation sees thousands of items, not the corpus. The bin
  * count depends only on the size MULTISET (equal-size items are
  * interchangeable in first-fit), so the DuckDB oracle can replay it
  * with its own n_tok DESC order and a recursive-CTE bin-state walk
  * and land on the identical count.
  */
object FfdMath {
  def bins(sorted: ArrayData, cap: Int): Int = {
    require(cap >= 1, s"ffd_bins: capacity must be >= 1, got $cap")
    val n = sorted.numElements()
    require(n <= (1 << 22),
      s"ffd_bins: $n items in one bucket — bucket the input finer")
    var rems = new Array[Long](8)
    var nb = 0
    var i = n - 1
    while (i >= 0) {
      val x = math.min(sorted.getLong(i), cap.toLong)
      var j = 0
      var placed = false
      while (j < nb && !placed) {
        if (rems(j) >= x) { rems(j) -= x; placed = true }
        j += 1
      }
      if (!placed) {
        if (nb == rems.length) rems = java.util.Arrays.copyOf(rems, nb * 2)
        rems(nb) = cap.toLong - x
        nb += 1
      }
      i -= 1
    }
    nb
  }
}

case class FfdBins(sortedSizes: Expression, capacity: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(sortedSizes, capacity)

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = children(0).eval(input)
    val c = children(1).eval(input)
    if (a == null || c == null) null
    else FfdMath.bins(a.asInstanceOf[ArrayData], c.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      int ${ev.value} = 0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.FfdMath.bins(
          ${evals(0).value}, ${evals(1).value});
      }""")
  }

  override def prettyName: String = "ffd_bins"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sortedSizes = newChildren(0), capacity = newChildren(1))
}
