package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over array<double> — codegen-friendly
  * higher-order functions, no UDFs. Embedding columns arrive as
  * array<float>; cast once with `asDouble` so every accumulation is a
  * sequential double fold (deterministic, and bit-identical to engines
  * that loop the same way).
  */
object Vec {
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential dot product Σ aᵢ·bᵢ in element order — the native
    * VecDot expression (identical accumulation order to the HOF fold
    * it replaced, ~10× cheaper; resolves through GraftExtensions). */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Deterministic ±1 random-hyperplane component for LSH: plane p,
    * dimension j — same closed form is expressible in ANSI SQL. */
  def planeComponent(p: Int, j: Column): Column =
    when(((lit(p) * 7919 + j * 104729) % 97) % 2 === 0, lit(1.0))
      .otherwise(lit(-1.0))

  /** LSH bucket id from `nPlanes` sign bits of random-hyperplane dots. */
  def lshBucket(v: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, transform(sequence(lit(0), size(v) - 1),
          j => planeComponent(p, j)), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
