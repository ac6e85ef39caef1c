package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-identity certificate for the native `cdc_chunks` kernel against
  * the exact windowed chain it replaced in chunk_cdc (posexplode → two
  * LAG windows → md5-trigram boundary flag → running boundary sum →
  * per-chunk rebuild) — the digest-nibble boundary math
  * (`conv(substr(md5(t2·' '·t1·' '·w), 1, 15), 16, 10) % 8 = 0` ≡ the
  * low 3 bits of nibble 14) is certified value-for-value here, not just
  * through the end-to-end oracle aggregate. */
class CdcChunksSpec extends SparkSpec {

  test("cdc_chunks is bit-identical to the windowed rebuild chain") {
    import spark.implicits._
    // edge docs: multi-space runs (split keeps empty tokens), the
    // empty string (split('') = ['']), and sub-trigram docs where no
    // boundary can ever fire
    val edge = Seq(
      (900001L, "a  b   c"),
      (900002L, ""),
      (900003L, "one"),
      (900004L, "one two"),
      (900005L, "one two three"),
      (900006L, "x y  z w   v u t s r q p o n m")
    ).toDF("doc_id", "text")
    val docsDf = graft.Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").limit(300)
      .unionAll(edge)

    val native = docsDf.select($"doc_id",
        posexplode(call_function("cdc_chunks", split($"text", " ")))
          .as(Seq("cid", "ch")))
      .select($"doc_id", $"cid".cast("long").as("cid"),
        $"ch.ctext".as("ctext"), $"ch.clen".as("clen"))

    val wn = Window.partitionBy("doc_id").orderBy("pos")
    val rebuilt = docsDf
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .withColumn("t1", lag($"w", 1).over(wn))
      .withColumn("t2", lag($"w", 2).over(wn))
      .withColumn("b", when($"t2".isNotNull &&
        conv(substring(md5(concat_ws(" ", $"t2", $"t1", $"w")), 1, 15),
          16, 10).cast("long") % 8 === 0, 1L).otherwise(0L))
      .withColumn("cid", coalesce(sum($"b").over(
        wn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy($"doc_id", $"cid")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct($"pos", $"w"))),
            x => x.getField("w"))).as("ctext"),
        count(lit(1)).as("clen"))

    val a = native.orderBy("doc_id", "cid")
      .select("doc_id", "cid", "ctext", "clen").collect()
    val b = rebuilt.orderBy("doc_id", "cid")
      .select("doc_id", "cid", "ctext", "clen").collect()
    assert(a.length == b.length,
      s"chunk count diverges: native ${a.length} vs rebuild ${b.length}")
    assert(a.length > 300, "expected at least one chunk per doc")
    a.zip(b).foreach { case (x, y) =>
      assert(x == y, s"chunk diverges: native $x vs rebuild $y")
    }
  }

  test("cdc_chunks null handling: null array -> null; null token -> loud") {
    import spark.implicits._
    val nullArr = Seq(Tuple1(Option.empty[Seq[String]]))
      .toDF("t")
      .select(call_function("cdc_chunks", $"t"))
      .collect().head
    assert(nullArr.isNullAt(0), "cdc_chunks(null) must be null")
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("t")
        .select(call_function("cdc_chunks", $"t")).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("null-free"),
      s"expected the loud null-token contract, got: ${rootMsg(ex)}")
  }
}
