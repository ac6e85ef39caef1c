package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints of one token array in a single native pass —
  * the compiled replacement for text_winnow's per-row HOF chain
  * (Schleimer et al. 2003, the k+w−1 match guarantee):
  *
  *   g  = transform(sequence(1, n−2), i → CAST(conv(substring(
  *          md5(concat_ws(' ', t[i−1], t[i], t[i+1])), 1, 15),
  *          16, 10) AS BIGINT))                 — one md5 per gram
  *   fp = array_distinct(transform(sequence(1, size(g)−3),
  *          j → array_min(slice(g, j, 4))))     — window-min selection
  *
  * Catalyst runs both lambdas INTERPRETED per element: every gram pays
  * Catalyst's md5→hex-string→substring→conv expression chain, and
  * every window pays a `slice` array allocation. This kernel digests
  * the identical UTF-8 bytes ("t0 t1 t2" via `UTF8String.concatWs`,
  * the routine concat_ws bottoms out in; MessageDigest MD5 — HotSpot
  * intrinsifies its compression, measured faster than a hand-rolled
  * core) and takes the 60-bit prefix exactly as the conv chain does
  * (first 8 digest bytes big-endian >>> 4), so gram hashes are
  * BIT-IDENTICAL — the selected fingerprint SET is the same set the
  * oracle replays. Window minima run over a primitive long array (no
  * slices); distinctness keeps array_distinct's first-occurrence
  * order.
  *
  * Returns struct(n_grams int, fp array<bigint>): n_grams = max(n−k+1,
  * 0) and fp = [] below the window bound — the CASE guards of the HOF
  * chain.
  */
object WinnowFpMath {
  private val Sep = UTF8String.fromString(" ")

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def fingerprints(toks: ArrayData, k: Int, w: Int): InternalRow = {
    val n = toks.numElements()
    if (n < k)
      return new GenericInternalRow(Array[Any](0,
        new GenericArrayData(Array.empty[Any])))
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) { ts(i) = toks.getUTF8String(i); i += 1 }
    val ng = n - k + 1
    val g = new Array[Long](ng)
    val window = new Array[UTF8String](k)
    val d = md5.get()
    i = 0
    while (i < ng) {
      var j = 0
      while (j < k) { window(j) = ts(i + j); j += 1 }
      d.reset()
      d.update(UTF8String.concatWs(Sep, window: _*).getBytes)
      val dig = d.digest()
      var v = 0L
      j = 0
      while (j < 8) { v = (v << 8) | (dig(j) & 0xffL); j += 1 }
      g(i) = v >>> 4
      i += 1
    }
    if (ng < w)
      return new GenericInternalRow(Array[Any](ng,
        new GenericArrayData(Array.empty[Any])))
    val seen = new java.util.HashSet[java.lang.Long]((ng - w + 1) * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Any](ng - w + 1)
    i = 0
    while (i <= ng - w) {
      var m = g(i)
      var j = 1
      while (j < w) { if (g(i + j) < m) m = g(i + j); j += 1 }
      val h = java.lang.Long.valueOf(m)
      if (seen.add(h)) out += h.longValue()
      i += 1
    }
    new GenericInternalRow(Array[Any](ng, new GenericArrayData(out.toArray)))
  }
}

case class WinnowFp(tokens: Expression, k: Expression, w: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(tokens, k, w)

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType, IntegerType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("fp", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    val k = children(1).eval(input)
    val w = children(2).eval(input)
    if (t == null || k == null || w == null) null
    else WinnowFpMath.fingerprints(t.asInstanceOf[ArrayData],
      k.asInstanceOf[Int], w.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.WinnowFpMath.fingerprints(
          ${evals(0).value}, ${evals(1).value}, ${evals(2).value});
      }""")
  }

  override def prettyName: String = "winnow_fp"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0), k = newChildren(1), w = newChildren(2))
}
