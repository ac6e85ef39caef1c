package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The WKT parser: every `geo.Wkt` ingest path (duckpipe/core.py:117-166
  * registers whatever geometry the table holds) runs this one kernel.
  * A compact static call plans instantly and parses in ~µs; the
  * composed split/transform/regex column parsers it replaced cost
  * ~1 ms/row interpreted AND several seconds of driver planning +
  * codegen compilation per query.
  *
  * Accepts POINT / LINESTRING / POLYGON (interior rings ok) /
  * MULTIPOLYGON. Output: ARRAY of parts, each part an ARRAY of rings,
  * each ring STRUCT(xs ARRAY<DOUBLE>, ys ARRAY<DOUBLE>) — point = one
  * 1-vertex ring, line = one open vertex ring. Polygon rings are
  * validated closed (first == last vertex after parsing, >= 4 points
  * incl. the closing vertex) and stored OPEN. Every coordinate must
  * match the WKT number grammar `Num` — `Double.parseDouble` alone
  * would also take NaN, Infinity, hex floats, `1d`/`2f` suffixes and
  * `.5`/`1.`. Malformed input throws "malformed WKT <kind>: <text>";
  * an unknown geometry throws "unsupported WKT geometry: <text>".
  */
object WktMath {
  private val Num =
    java.util.regex.Pattern.compile("[-+]?[0-9]+(?:\\.[0-9]+)?(?:[eE][-+]?[0-9]+)?")

  private def fail(kind: String, wkt: String): Nothing =
    throw new IllegalArgumentException(s"malformed WKT $kind: $wkt")

  /** Parse "x y" pairs of a ring/line body into (xs, ys). */
  private def vertices(body: String, kind: String, wkt: String)
      : (Array[Double], Array[Double]) = {
    val vs = body.split(",", -1)
    val xs = new Array[Double](vs.length)
    val ys = new Array[Double](vs.length)
    var i = 0
    while (i < vs.length) {
      val toks = vs(i).trim.split("\\s+")
      if (toks.length != 2 || !Num.matcher(toks(0)).matches() ||
          !Num.matcher(toks(1)).matches())
        fail(s"$kind vertex (two WKT numbers 'x y')", wkt)
      xs(i) = java.lang.Double.parseDouble(toks(0))
      ys(i) = java.lang.Double.parseDouble(toks(1))
      i += 1
    }
    (xs, ys)
  }

  /** `geom` names the enclosing geometry (POLYGON | MULTIPOLYGON). */
  private def ring(body: String, geom: String, wkt: String): InternalRow = {
    val (xs, ys) = vertices(body, s"$geom ring", wkt)
    if (xs.length < 4)
      fail(s"$geom ring (>= 4 points incl. closing vertex)", wkt)
    if (xs(0) != xs(xs.length - 1) || ys(0) != ys(ys.length - 1))
      fail(s"$geom (ring not closed)", wkt)
    InternalRow(
      new GenericArrayData(xs.dropRight(1)),
      new GenericArrayData(ys.dropRight(1)))
  }

  /** Ring list "(r1), (r2), …" → array of ring structs. */
  private def rings(body: String, geom: String, wkt: String): ArrayData = {
    val list = s"$geom ring list"
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    val n = body.length
    while (i < n) {
      while (i < n && (body(i) == ' ' || body(i) == ',')) i += 1
      if (i < n) {
        if (body(i) != '(') fail(list, wkt)
        val close = body.indexOf(')', i)
        if (close < 0) fail(list, wkt)
        val inner = body.substring(i + 1, close)
        if (inner.indexOf('(') >= 0) fail(list, wkt)
        out += ring(inner, geom, wkt)
        i = close + 1
        // after a ring only whitespace-then-comma (or end) is legal
        var j = i
        while (j < n && body(j) == ' ') j += 1
        if (j < n && body(j) != ',') fail(list, wkt)
      }
    }
    if (out.isEmpty) fail(list, wkt)
    new GenericArrayData(out.toArray[Any])
  }

  private def stripShell(s: String, header: String, kind: String,
                         wkt: String): String = {
    val rest = s.substring(header.length).trim
    if (!rest.startsWith("(") || !rest.endsWith(")")) fail(kind, wkt)
    rest.substring(1, rest.length - 1)
  }

  def parts(u: UTF8String): ArrayData = {
    if (u == null) return null
    val wkt = u.toString
    val t = wkt.trim
    if (t.startsWith("POINT")) {
      val body = stripShell(t, "POINT", "POINT", wkt)
      if (body.indexOf('(') >= 0 || body.indexOf(',') >= 0)
        fail("POINT", wkt)
      val (xs, ys) = vertices(body, "POINT", wkt)
      if (xs.length != 1) fail("POINT", wkt)
      val r = InternalRow(new GenericArrayData(xs), new GenericArrayData(ys))
      new GenericArrayData(Array[Any](new GenericArrayData(Array[Any](r))))
    } else if (t.startsWith("LINESTRING")) {
      val body = stripShell(t, "LINESTRING", "LINESTRING (>= 2 points)", wkt)
      if (body.indexOf('(') >= 0)
        fail("LINESTRING (>= 2 points)", wkt)
      val (xs, ys) = vertices(body, "LINESTRING", wkt)
      if (xs.length < 2) fail("LINESTRING (>= 2 points)", wkt)
      val r = InternalRow(new GenericArrayData(xs), new GenericArrayData(ys))
      new GenericArrayData(Array[Any](new GenericArrayData(Array[Any](r))))
    } else if (t.startsWith("MULTIPOLYGON")) {
      val body = stripShell(t, "MULTIPOLYGON", "MULTIPOLYGON", wkt)
      // split top-level parts "((r),(r)), ((r))" on ")), ((" boundaries
      val out = scala.collection.mutable.ArrayBuffer.empty[ArrayData]
      var depth = 0
      var start = -1
      var i = 0
      while (i < body.length) {
        val c = body(i)
        if (c == '(') { depth += 1; if (depth == 1) start = i }
        else if (c == ')') {
          if (depth == 0) fail("MULTIPOLYGON", wkt)
          depth -= 1
          if (depth == 0)
            out += rings(body.substring(start + 1, i), "MULTIPOLYGON", wkt)
        } else if (depth == 0 && c != ',' && c != ' ')
          fail("MULTIPOLYGON", wkt)
        i += 1
      }
      if (depth != 0 || out.isEmpty) fail("MULTIPOLYGON", wkt)
      new GenericArrayData(out.toArray[Any])
    } else if (t.startsWith("POLYGON")) {
      val body = stripShell(t, "POLYGON", "POLYGON (ring list)", wkt)
      new GenericArrayData(Array[Any](rings(body, "POLYGON", wkt)))
    } else {
      throw new IllegalArgumentException(s"unsupported WKT geometry: $wkt")
    }
  }
}

case class WktParts(child: Expression)
    extends Expression with ImplicitCastInputTypes {
  override def prettyName: String = "wkt_parts"

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(ArrayType(StructType(Seq(
    StructField("xs", ArrayType(DoubleType, containsNull = false)),
    StructField("ys", ArrayType(DoubleType, containsNull = false))))))

  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else WktMath.parts(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.WktMath.parts(${c.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
