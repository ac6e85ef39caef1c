package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** All-permutation MinHash signature in one pass over the hashed
  * shingle array.
  *
  * Bit-identical to the compositional plan
  * `groupBy(doc).agg(min(xxhash64(lit(p), hs)) for p <- 0 until P)`:
  * Spark's xxhash64(int p, long h) folds seed 42 → XXH64.hashInt(p)
  * → XXH64.hashLong(h), and this kernel calls the very same static
  * XXH64 methods in the same order. What changes is the plan shape —
  * a pure map over each document's shingle array instead of exploding
  * P×|shingles| rows through a P-column min aggregation (one shuffle
  * and ~P× the row traffic saved), and the per-(p, h) virtual-call
  * overhead of P separate Catalyst hash expressions collapses into a
  * tight two-level loop.
  *
  * Returns NULL for an empty shingle array (a document with no
  * shingles has no signature — same as being absent from the
  * aggregated form).
  */
object MinHashMath {
  def signature(hs: ArrayData, nPerms: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val seeds = new Array[Long](nPerms)
    var p = 0
    while (p < nPerms) { seeds(p) = XXH64.hashInt(p, 42L); p += 1 }
    val out = Array.fill(nPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < nPerms) {
        val v = XXH64.hashLong(h, seeds(j))
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashSignature(hashes: Expression, nPerms: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(hashes, nPerms)
  override def prettyName: String = "minhash_signature"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty array → null

  override def eval(input: InternalRow): Any = {
    val hs = children(0).eval(input)
    val n = children(1).eval(input)
    if (hs == null || n == null) null
    else MinHashMath.signature(hs.asInstanceOf[ArrayData],
      n.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.MinHashMath.signature(
          ${evals(0).value}, ${evals(1).value});
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hashes = newChildren(0), nPerms = newChildren(1))
}
