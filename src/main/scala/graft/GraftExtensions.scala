package graft

import graft.functions._
import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import scala.reflect.ClassTag

/** SQL-surface registration of graft's native expressions.
  *
  * `GraftSession` installs this extension (`spark.sql.extensions=
  * graft.GraftExtensions`), so every session it builds resolves the
  * kernels from plain SQL, e.g. `SELECT clipped_segment_length(cx, cy,
  * r, x1, y1, x2, y2)`. A session built elsewhere calls
  * `GraftFunctions.register(spark)` once instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

/** The one kernel table: SQL name → expression class. */
object GraftFunctions {
  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Spark's own builder: `ExpressionInfo` from the class, and a
    * constructor match by arity that raises WRONG_NUM_ARGS at analysis.
    * Every kernel has fixed-arity constructors only: a
    * `Seq[Expression]` constructor would take any arity and fail later,
    * outside the analyzer. */
  private def fn[T <: Expression: ClassTag](name: String): Fn = {
    val (info, builder) = FunctionRegistryBase.build[T](name, None)
    (FunctionIdentifier(name), info, builder)
  }

  // `cap` is an Int constructor argument taken from a literal, which
  // the reflective builder cannot supply; its failures are analysis
  // errors like the reflective builder's
  private val pairCodes: Fn = (
    FunctionIdentifier("pair_codes"),
    FunctionRegistryBase.expressionInfo[PairCodes]("pair_codes", None),
    (args: Seq[Expression]) => args match {
      case Seq(c) => PairCodes(c)
      // accept int AND long literal caps (SQL integer literals can
      // arrive as BIGINT; a 2+1-style foldable cap arrives unfolded —
      // fold it here rather than rejecting intent that is a valid cap)
      case Seq(c, cap) if cap.foldable =>
        cap.eval() match {
          case n: Int if n >= 0 => PairCodes(c, n)
          case n: Long if n >= 0 && n <= Int.MaxValue => PairCodes(c, n.toInt)
          case other => throw capMismatch(args, "VALUE_OUT_OF_RANGE", Map(
            "exprName" -> "`cap`", "valueRange" -> s"[0, ${Int.MaxValue}]",
            "currentValue" -> String.valueOf(other)))
        }
      case Seq(_, cap) => throw capMismatch(args, "NON_FOLDABLE_INPUT", Map(
        "inputName" -> "`cap`", "inputType" -> "\"INT\"",
        "inputExpr" -> cap.sql))
      case _ => throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> "`pair_codes`", "expectedNum" -> "[1, 2]",
          "actualNum" -> args.size.toString,
          "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
    })

  private def capMismatch(args: Seq[Expression], sub: String,
                          params: Map[String, String]): AnalysisException =
    new AnalysisException(s"DATATYPE_MISMATCH.$sub", params +
      ("sqlExpr" -> s"\"pair_codes(${args.map(_.sql).mkString(", ")})\""))

  val all: Seq[Fn] = Seq(
    fn[ClippedSegmentLength]("clipped_segment_length"),
    fn[ClippedPolygonArea]("clipped_polygon_area"),
    fn[HilbertIndex]("hilbert_index"),
    fn[PointInPolygon]("point_in_polygon"),
    fn[NormalizeText]("normalize_text"),
    fn[VecDot]("vec_dot"),
    fn[VecL2]("vec_l2"),
    fn[MinHashSignature]("minhash_signature"),
    fn[BigramRunStats]("bigram_run_stats"),
    fn[WktParts]("wkt_parts"),
    fn[Sum128]("dsum128"),
    fn[QSum128]("qsum128"),
    fn[RollingHashWindows]("rolling_hash_windows"),
    fn[FfdBins]("ffd_bins"),
    fn[Md5MinHash]("md5_minhash"),
    fn[CdcChunks]("cdc_chunks"),
    fn[ShingleHashes]("shingle_hashes"),
    fn[Md5Shingles]("md5_shingles"),
    fn[CharNgrams]("char_ngrams"),
    fn[WordNgrams]("word_ngrams"),
    pairCodes,
    fn[SortedCommon]("sorted_common"),
    fn[SortedIntersect]("sorted_intersect"),
    fn[WinnowFp]("winnow_fp"),
    fn[MinMd5]("min_md5"),
    fn[WktPointText]("wkt_point_text"),
    fn[WktLineText]("wkt_line_text"),
    fn[WktPolyText]("wkt_poly_text"),
    fn[WktRingsText]("wkt_rings_text"),
    fn[WktMultiText]("wkt_multi_text"))

  /** For a session `GraftSession` did not build; its sessions already
    * carry every kernel through `GraftExtensions`. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
