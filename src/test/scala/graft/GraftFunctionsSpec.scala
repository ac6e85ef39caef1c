package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

import scala.util.Try

/** The kernel table is the whole SQL surface: every entry reaches a
  * session through `GraftSession`'s extension alone, the builders check
  * arity at analysis, and each expression prints under its SQL name. */
class GraftFunctionsSpec extends SparkSpec {

  test("every kernel resolves from SQL in a session nobody registered into") {
    val names = GraftFunctions.all.map(_._1.funcName)
    assert(names.distinct.size == names.size)
    val fresh = spark.newSession()
    names.foreach { n =>
      val shown = fresh.sql(s"SHOW FUNCTIONS LIKE '$n'").collect().map(_.getString(0))
      assert(shown.toSeq == Seq(n), s"$n not visible from SQL")
    }
    GraftFunctions.all.foreach { case (id, info, _) =>
      assert(fresh.sessionState.catalog.lookupFunctionInfo(id).getClassName ==
        info.getClassName)
    }
  }

  test("wrong-arity kernel calls fail at analysis with WRONG_NUM_ARGS") {
    Seq(
      "SELECT min_md5(a, 3, 99) FROM VALUES (array('p', 'q')) AS t(a)",
      "SELECT min_md5(a) FROM VALUES (array('p', 'q')) AS t(a)",
      "SELECT sorted_common(a, a, a) FROM VALUES (array(1L, 2L)) AS t(a)",
      "SELECT dsum128(x, 2, 7) FROM VALUES (1.5D) AS t(x)",
      "SELECT wkt_parts(w, 'junk') FROM VALUES ('POINT (1 2)') AS t(w)",
      // the fixed-arity kernels, one argument short or over
      "SELECT vec_dot(a) FROM VALUES (array(1D)) AS t(a)",
      "SELECT vec_l2(a, a, a) FROM VALUES (array(1D)) AS t(a)",
      "SELECT clipped_segment_length(1D, 2D, 3D, 4D, 5D, 6D)",
      "SELECT clipped_polygon_area(1D, 2D, 3D, array(1D))",
      "SELECT hilbert_index(1, 2)",
      "SELECT point_in_polygon(1D, 2D, array(1D), array(1D), 5)",
      "SELECT normalize_text('a', 'b')",
      "SELECT minhash_signature(array(1L))",
      "SELECT rolling_hash_windows(array('a'), 2, 3)",
      "SELECT md5_minhash(array(1L), 4, 5)",
      "SELECT ffd_bins(array(1L))",
      "SELECT winnow_fp(array('a'), 2)",
      "SELECT pair_codes(array(1L), 2, 3)"
    ).foreach { q =>
      val e = intercept[AnalysisException](spark.sql(q).collect())
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$q: ${e.getMessage}")
    }
  }

  test("pair_codes rejects a cap that is not a non-negative int literal at analysis") {
    Seq(
      "SELECT pair_codes(a, c) FROM VALUES (array(1L), 3) AS t(a, c)" ->
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
      "SELECT pair_codes(array(1L), -1)" -> "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE",
      "SELECT pair_codes(array(1L), 3000000000)" ->
        "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE"
    ).foreach { case (q, cond) =>
      val e = intercept[AnalysisException](spark.sql(q).collect())
      assert(e.getCondition == cond, s"$q: ${e.getMessage}")
    }
  }

  test("every built kernel's prettyName is its SQL name") {
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, _, _) =>
      val build = registry.lookupFunctionBuilder(id).get
      // the first arity the builder accepts; literal types do not
      // matter, only construction
      val built: Option[Expression] = (1 to 7).iterator
        .map(k => Try(build(Seq.fill(k)(Literal(1)))).toOption)
        .collectFirst { case Some(e) => e }
      assert(built.map(_.prettyName).contains(id.funcName),
        s"${id.funcName} built as ${built.map(_.prettyName)}")
    }
  }
}
