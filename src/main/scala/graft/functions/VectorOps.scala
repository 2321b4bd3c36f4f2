package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives over `array<float>` columns, built from
  * codegen'd higher-order functions (`transform`/`zip_with`/
  * `aggregate`) — no UDFs, no per-row JVM boxing beyond the array
  * lambda machinery.
  *
  * Cross-engine determinism: float dot products are order- and
  * width-sensitive (DuckDB's list_cosine_similarity accumulates in
  * float32; Spark would fold in float64), so any value that must
  * hash-match an oracle goes through [[quantize]] first — fixed-point
  * `round(x * 1e6)` longs. Integer sums are exact and
  * order-independent, and the final sqrt/divide on identical longs is
  * IEEE-deterministic in both engines.
  */
object VectorOps {

  /** Fixed-point quantization: array<float> → array<long> at 1e-6
    * resolution. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * lit(1000000d)).cast("long"))

  /** Integer dot product of two quantized vectors (codegen'd primitive
    * loop — see [[ArrayDotProduct]]). */
  def dotQ(a: Column, b: Column): Column = ArrayDotProduct.dot(a, b)

  /** Integer squared norm of a quantized vector. */
  def norm2Q(a: Column): Column = ArrayDotProduct.dot(a, a)

  /** Deterministic cosine similarity between two quantized vectors.
    * For pairwise workloads, precompute the norms per side instead
    * (see [[graft.operators.VecSearch]]) — this form recomputes both per
    * pair. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(norm2Q(a).cast("double")) * sqrt(norm2Q(b).cast("double")))

  /** Cosine from a precomputed dot and squared norms. */
  def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Float64 cosine — for Spark-only paths where no oracle parity is
    * needed. */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    cosineFrom(ArrayDotProduct.dot(ad, bd),
      ArrayDotProduct.dot(ad, ad), ArrayDotProduct.dot(bd, bd))
  }

  /** The DuckDB SQL fragment mirroring [[quantize]] — kept next to the
    * Scala so the two can't drift. */
  val QuantizeSql: String =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
}
