package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** md5-derived MinHash signature — the ORACLE-REPLAYABLE permutation
  * family (DuckDB can recompute md5; it cannot recompute xxhash64, so
  * calibration audits whose VALUES must survive the hash gate use
  * these — see dedup_minhash_est).
  *
  * Value-identical to the compositional plan
  *   min over shingles of
  *     conv(substring(md5(concat('p', i, ':', h)), 1, 15), 16, 10)
  * — the same UTF-8 bytes digested ("p{i}:{h}" with both numbers in
  * decimal), the first 15 hex digits as a long = the first 8 bytes
  * big-endian shifted right one nibble. What changes is the plan: one
  * pass over each document's shingle-hash array instead of a 32×
  * explode through a (doc, perm) hash aggregate, one reused
  * MessageDigest instead of per-row string/hex Catalyst machinery.
  *
  * NULL for an empty shingle array (no shingles → no signature).
  */
object Md5MinHashMath {
  def signature(hs: ArrayData, nPerms: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(nPerms)(i =>
      s"p$i:".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val out = Array.fill(nPerms)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val hb = java.lang.Long.toString(hs.getLong(k))
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var i = 0
      while (i < nPerms) {
        md.reset()
        md.update(prefixes(i))
        md.update(hb)
        val d = md.digest()
        // first 15 hex digits = first 8 bytes big-endian >>> 4
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v = v >>> 4
        if (v < out(i)) out(i) = v
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }
}

case class Md5MinHash(hashes: Expression, nPerms: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(hashes, nPerms)

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val hs = children(0).eval(input)
    val n = children(1).eval(input)
    if (hs == null || n == null) null
    else Md5MinHashMath.signature(hs.asInstanceOf[ArrayData],
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
        ${ev.value} = graft.functions.Md5MinHashMath.signature(
          ${evals(0).value}, ${evals(1).value});
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override def prettyName: String = "md5_minhash"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hashes = newChildren(0), nPerms = newChildren(1))
}
