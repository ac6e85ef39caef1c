package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bigram run statistics over a token array in ONE native pass —
  * the codegen'd replacement for the `array_sort` + `aggregate`
  * higher-order-function fold in text_repetition /
  * corpus_quality_filter. Catalyst's higher-order functions are
  * interpreted per element (no codegen), which measured ~16 CPU-s at
  * sf0.1; this kernel sorts bigram START INDICES with a two-token
  * comparator — no bigram strings are ever materialized — then
  * accumulates run lengths in a tight loop.
  *
  * Semantics are identical to the HOF fold on `Text.grams(2)`
  * (tokens come from split-on-space, so they contain no spaces and
  * pair equality ⇔ joined-bigram-string equality; run statistics
  * depend only on equality, so any total order sorts equal pairs
  * adjacent). Returns struct(ng, dup, mx): bigram instance count,
  * Σ lengths of runs ≥ 2 (instances whose bigram repeats in-doc),
  * and the longest run (the most frequent bigram's count); all 0
  * for docs shorter than 2 tokens.
  */
object TextRunMath {
  private def cmpS(a: UTF8String, b: UTF8String): Int =
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.compareTo(b)

  private def eqS(a: UTF8String, b: UTF8String): Boolean =
    if (a eq b) true
    else if (a == null || b == null) false
    else a.equals(b)

  def bigramStats(toks: ArrayData): GenericInternalRow = {
    val n = toks.numElements()
    if (n < 2) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val ng = n - 1
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) { ts(i) = toks.getUTF8String(i); i += 1 }
    val idx = new Array[Integer](ng)
    i = 0
    while (i < ng) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int = {
        val c = cmpS(ts(x), ts(y))
        if (c != 0) c else cmpS(ts(x + 1), ts(y + 1))
      }
    })
    var dup = 0L
    var mx = 0L
    var run = 1L
    i = 1
    while (i < ng) {
      val a = idx(i - 1).intValue()
      val b = idx(i).intValue()
      if (eqS(ts(a), ts(b)) && eqS(ts(a + 1), ts(b + 1))) run += 1
      else {
        if (run >= 2) dup += run
        if (run > mx) mx = run
        run = 1
      }
      i += 1
    }
    if (run >= 2) dup += run
    if (run > mx) mx = run
    new GenericInternalRow(Array[Any](ng.toLong, dup, mx))
  }
}

case class BigramRunStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "bigram_run_stats"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType))

  override def dataType: DataType = StructType(Seq(
    StructField("ng", LongType, nullable = false),
    StructField("dup", LongType, nullable = false),
    StructField("mx", LongType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    TextRunMath.bigramStats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextRunMath.bigramStats($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
