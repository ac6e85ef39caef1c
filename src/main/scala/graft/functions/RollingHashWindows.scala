package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Rabin–Karp rolling hashes of every w-token window, one O(n) pass.
  *
  * The naive plan for exact-substring dedup (Lee et al. 2021 class)
  * materializes `concat_ws(slice(tokens, i, w))` per window — a w×
  * blowup of the corpus text in transient strings (w=50 → hashing
  * 5 PB to scan 100 TB). This kernel hashes each token ONCE
  * (the same XXH64 primitive Spark's xxhash64 uses) and rolls two
  * independent degree-(w−1) polynomial hashes over the token-hash
  * stream in Z/2^64:
  *
  *   H_i = Σ_{k<w} th(i+k)·B^{w−1−k};  H_{i+1} = (H_i − th(i)·B^{w−1})·B + th(i+w)
  *
  * with odd (hence invertible mod 2^64) bases B1, B2, so window
  * equality is tested on a combined 128-bit key — collision odds stay
  * negligible at 10^12 windows, where a single 64-bit key would see
  * thousands of birthday collisions (each one a wrongly-deleted span).
  *
  * Returns array<struct<pos:int, h1:long, h2:long>> with one entry per
  * window start 0..n−w; an EMPTY array when the document has fewer
  * than w tokens (callers need no descending-`sequence` guard); NULL
  * only for NULL input. Non-adversarial setting: polynomial hashes in
  * Z/2^64 admit crafted collisions (Thue–Morse), irrelevant for corpus
  * dedup.
  */
object RollingHashMath {
  // odd multipliers — invertible in Z/2^64 (golden-ratio / xxhash prime)
  private val B1 = 0x9E3779B97F4A7C15L
  private val B2 = 0xC2B2AE3D27D4EB4FL

  def windows(toks: ArrayData, w: Int): ArrayData = {
    require(w >= 1, s"rolling_hash_windows: w must be >= 1, got $w")
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      th(i) = if (s == null) 0L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
      i += 1
    }
    var p1 = 1L; var p2 = 1L // B^(w-1)
    i = 1
    while (i < w) { p1 *= B1; p2 *= B2; i += 1 }
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < w) { h1 = h1 * B1 + th(i); h2 = h2 * B2 + th(i); i += 1 }
    val out = new Array[Any](n - w + 1)
    out(0) = new GenericInternalRow(Array[Any](0, h1, h2))
    i = 1
    while (i <= n - w) {
      h1 = (h1 - th(i - 1) * p1) * B1 + th(i + w - 1)
      h2 = (h2 - th(i - 1) * p2) * B2 + th(i + w - 1)
      out(i) = new GenericInternalRow(Array[Any](i, h1, h2))
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class RollingHashWindows(tokens: Expression, w: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(tokens, w)

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    val w = children(1).eval(input)
    if (t == null || w == null) null
    else RollingHashMath.windows(t.asInstanceOf[ArrayData],
      w.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.RollingHashMath.windows(
          ${evals(0).value}, ${evals(1).value});
      }""")
  }

  override def prettyName: String = "rolling_hash_windows"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0), w = newChildren(1))
}
