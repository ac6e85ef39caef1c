package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NormalizeTextSpec extends SparkSpec {
  import spark.implicits._

  test("NFKC folding, accent stripping, lowercasing via SQL surface") {
    val cases = Seq(
      ("Caf\u00e9", "cafe"),            // precomposed e-acute
      ("Cafe\u0301", "cafe"),           // decomposed e + combining acute
      ("\u00dcber", "uber"),            // U-umlaut
      ("\ufb01le", "file"),             // fi ligature (NFKD compat)
      ("HELLO world", "hello world"),
      ("\u0130stanbul", "istanbul"))    // dotted capital I
    val df = cases.toDF("raw", "expected")
      .withColumn("got", expr("normalize_text(raw)"))
    val bad = df.filter(
      expr("got != expected OR regexp_replace(got, '\\\\p{M}', '') != got"))
      .collect()
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("normalization is idempotent over the documents corpus") {
    val d = graft.Tables.load(spark, sfDir, "documents")
      .selectExpr("normalize_text(text) AS n1")
      .selectExpr("n1", "normalize_text(n1) AS n2")
    assert(d.filter(col("n1") =!= col("n2")).count() == 0)
  }
}
