package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Space-filling-curve keys for spatially coherent partitioning — the
  * scale-out replacement for the reference's chunking step
  * (duckpipe/calculator/Clustering.py: chunk_by_hilbert /
  * chunk_by_centroid). Instead of materializing chunk DataFrames on a
  * driver, graft computes a Z-order (Morton) key as a column expression
  * and range-partitions on it: rows near each other in space land in the
  * same Spark partition, which is exactly the memory-locality property
  * the reference's chunks buy — but distributed and shuffle-planned.
  *
  * Pure bit arithmetic → whole-stage codegen, no UDF.
  */
object SpatialCurve {

  /** Spread the low 16 bits of v so a bit lands every 2 positions. */
  private def spread(v: Column): Column = {
    val a = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (c.bitwiseOR(shiftleft(c, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Morton key from two non-negative integer grid coordinates
    * (≤ 16 bits each). */
  def zKey(ix: Column, iy: Column): Column =
    spread(ix.cast("long")).bitwiseOR(shiftleft(spread(iy.cast("long")), 1))

  /** Morton key from continuous coordinates at `cellSize` resolution. */
  def zKeyOf(x: Column, y: Column, cellSize: Double): Column =
    zKey(floor(x / lit(cellSize)).cast("long"),
         floor(y / lit(cellSize)).cast("long"))

  /** Spatially coherent repartitioning: range-partition on the Z key. */
  def partitionBySpace(df: DataFrame, cellSize: Double, numPartitions: Int): DataFrame =
    df.withColumn("_zkey", zKeyOf(col("x"), col("y"), cellSize))
      .repartitionByRange(numPartitions, col("_zkey"))
      .drop("_zkey")

  /** Hilbert-curve key (native HilbertIndex expression) — strictly
    * better locality than Z-order; the reference's chunk_by_hilbert. */
  def hilbertKey(df: DataFrame, ix: Column, iy: Column, order: Int): Column = {
    call_function("hilbert_index", ix.cast("long"), iy.cast("long"),
      lit(order.toLong))
  }

  def partitionByHilbert(df: DataFrame, cellSize: Double, order: Int,
                         numPartitions: Int): DataFrame = {
    val hk = hilbertKey(df,
      floor(col("x") / lit(cellSize)).cast("long"),
      floor(col("y") / lit(cellSize)).cast("long"), order)
    df.withColumn("_hkey", hk)
      .repartitionByRange(numPartitions, col("_hkey"))
      .drop("_hkey")
  }
}
