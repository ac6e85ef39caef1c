package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text canonicalization for LLM-data pipelines: NFKD
  * decompose → strip combining marks (accent folding) → lowercase —
  * the standard pre-dedup/pre-tokenization cleanup. Spark has no
  * built-in Unicode normalizer, so this is a native expression
  * (doGenCode static call; java.text.Normalizer under the hood).
  */
object TextNorm {
  private val Marks = "\\p{M}+".r
  def normalize(s: UTF8String): UTF8String = {
    val nfkd = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFKD)
    UTF8String.fromString(
      Marks.replaceAllIn(nfkd, "").toLowerCase(java.util.Locale.ROOT))
  }
}

case class NormalizeText(text: Expression)
    extends Expression with ImplicitCastInputTypes {
  @transient override lazy val children: Seq[Expression] =
    IndexedSeq(text)
  override def prettyName: String = "normalize_text"

  // analysis-time implicit cast instead of an interpreted-path
  // ClassCastException on non-string SQL arguments
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = StringType
  override def nullable: Boolean = children.head.nullable

  override def eval(input: InternalRow): Any = {
    val v = children.head.eval(input)
    if (v == null) null else TextNorm.normalize(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = children.head.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.TextNorm.normalize(${c.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(text = newChildren(0))
}
