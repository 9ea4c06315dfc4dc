package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>`/`array<double>` embedding columns, as
  * higher-order-function expressions (`zip_with`/`aggregate`) — no UDFs, so
  * similarity scans stay inside whole-stage codegen and scale as pure
  * narrow transforms.
  *
  * Everything computes in double: `array<float>` inputs are cast up front so
  * Spark and the DuckDB oracle fold the same IEEE doubles in the same order.
  */
object Vectors {

  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Σ aᵢ·bᵢ (sequential — deterministic summation order), via the codegen'd
    * [[VectorDot]] expression (the HOF fold is interpreted and ~100× slower).
    */
  def dot(a: Column, b: Column): Column =
    VectorExpressions.vectorDot(toDouble(a), toDouble(b))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe on zero vectors (→ null). */
  def cosine(a: Column, b: Column): Column = {
    val d = l2Norm(a) * l2Norm(b)
    when(d === 0, lit(null)).otherwise(dot(a, b) / d)
  }

  /** Sign-bit bucket id for random-hyperplane LSH: bit i of the result is
    * sign(v · hᵢ) where hᵢ is a deterministic ±1 hyperplane derived from a
    * splitmix64 hash of (tableSeed, i, j) — no stored hyperplane matrix
    * needed; see [[HyperplaneBucketExpr]] (native fused loop — the HOF
    * formulation was interpreted per element).
    *
    * Used as the bucketing key for approximate nearest neighbors: vectors
    * sharing a bucket (per table) are candidate neighbors, so a 100 TB ANN
    * query touches only matching buckets instead of the full corpus.
    */
  def hyperplaneBucket(v: Column, nBits: Int, tableSeed: Int): Column =
    HyperplaneBucketExpr.hyperplaneBucket(toDouble(v), nBits, tableSeed)
}
