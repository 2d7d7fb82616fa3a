package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector column functions over `ArrayType(FloatType|DoubleType)`.
  *
  * Capability target: the reference's pgvector usage —
  * `<#>` negative inner product (reference `backend/src/db.py:79-86`),
  * L2 normalize (`backend/src/embeddings.py:65-71`),
  * truncate-or-pad to a fixed dimensionality
  * (`backend/src/embeddings.py:52-56`).
  *
  * All are composed from Catalyst higher-order functions
  * (`transform` / `aggregate` / `zip_with`) — no Scala UDFs — so they
  * stay inside codegen'd expression evaluation, are null-safe, and are
  * portable to the DuckDB oracle (`list_dot_product`, `list_transform`).
  *
  * Numeric determinism: every accumulation casts elements to DOUBLE
  * first and folds left-to-right, which matches DuckDB's semantics on
  * `DOUBLE[]` exactly (IEEE-754, same order) — results are
  * bit-identical across engines, no rounding slop needed.
  */
object VectorOps {

  /** Elementwise cast to double — do this before any accumulation so
    * float32 inputs accumulate in double on both engines. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** ⟨a,b⟩ — inner product, fold left in double. Native codegen'd
    * Catalyst expression ([[graft.expressions.DotProduct]]); same
    * accumulation order/casts as [[dotHof]], ~3-5× faster per row. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dot(a, b)

  /** HOF formulation of [[dot]] — kept as the portable reference
    * implementation (equivalence is property-tested). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** pgvector `<#>`: negative inner product (quirk Q2 in SURVEY.md —
    * the reference's "distance"; smaller = more similar). */
  def negDot(a: Column, b: Column): Column = -dot(a, b)

  /** ||v||₂ */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity ⟨a,b⟩ / (||a||·||b||); 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** v / ||v||₂, input unchanged when the norm is 0
    * (reference `embeddings.py:65-71` returns the list as-is). */
  def l2Normalize(v: Column): Column = {
    val n = l2Norm(v)
    when(n === 0.0, toDouble(v))
      .otherwise(transform(v, x => x.cast("double") / n))
  }

  /** Truncate to `dims` or right-pad with zeros
    * (reference `embeddings.py:52-56`). Applied AFTER normalize —
    * quirk Q1: truncated vectors are intentionally not unit norm. */
  def truncateOrPad(v: Column, dims: Int): Column =
    when(size(v) >= dims, slice(toDouble(v), 1, dims))
      .otherwise(concat(toDouble(v),
        array_repeat(lit(0.0), lit(dims) - size(v))))

  /** [[truncateOrPad]] for a DOUBLE vector whose length is statically
    * known to be ≥ dims (the featurizer's fixed model-width output):
    * one plain slice. The generic CASE variant references its input
    * subtree three times (length test + both branches), which
    * TRIPLES evaluation of an expensive child when the projection
    * runs interpreted — q10's featurizer ran 3× per row through it. */
  def truncateKnown(v: Column, dims: Int): Column = slice(v, 1, dims)
}
