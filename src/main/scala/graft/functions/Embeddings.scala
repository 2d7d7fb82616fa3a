package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text-embedding featurizer — the testable stand-in
  * for the reference's Ollama embedding calls (P5/P6,
  * `embeddings.py:12-43`): hash each token into one of `dims`
  * signed buckets, count, L2-normalize. Same trait a batched-HTTP
  * implementation would fill in production; this one is pure Catalyst
  * expressions (md5-hash → bucket/sign → per-dim signed count), so
  * it is codegen-friendly, shuffle-free, and oracle-expressible.
  */
object Embeddings {

  val Dims = 64

  /** The reference's true stored dimensionality: pgvector
    * `Vector(1024)` (`models.py:32`). */
  val RefDims = 1024

  /** Stand-in "model output" width (> RefDims so the
    * normalize-then-truncate of quirk Q1 is honest, like Ollama's
    * 3072-d llama3.2 output vs the 1024 column). */
  val ModelDims = 1280

  /** Signed hashed bag-of-words, L2-normalized. Native single-pass
    * Catalyst expression ([[graft.expressions.HashFeaturize]]) —
    * one token walk into a dims-slot accumulator; equivalence with
    * the HOF formulation is property-tested (HashFeaturizeSpec). */
  def featurize(text: Column, dims: Int = Dims): Column =
    graft.expressions.HashFeaturize.featurize(text, dims)

  /** The reference's full chain: featurize → L2 normalize → truncate
    * or zero-pad (quirk Q1 order). */
  def embedText(text: Column, dims: Int = Dims): Column =
    VectorOps.truncateOrPad(featurize(text, dims), dims)

  /** The chain at the reference's STORED geometry: model-width
    * featurization ([[ModelDims]]) normalized then truncated to the
    * `Vector(1024)` column width ([[RefDims]], quirk Q1 — stored
    * vectors are not unit norm). This is what ingest writes. */
  def embedStored(text: Column): Column =
    VectorOps.truncateKnown(featurize(text, ModelDims), RefDims)

  /** `vec_dot(embedStored(text), query)` for a constant RefDims-wide
    * `query`, without building the stored vector: one fused
    * tokenize → hash → norm → dot kernel
    * ([[graft.expressions.HashQueryDot]]), bit-identical to the
    * unfused chain (HashFeaturizeSpec). */
  def queryDot(text: Column, query: Column): Column =
    graft.expressions.HashFeaturize.queryDot(text, query, ModelDims)

  /** [[embedStored]] for the vision path: over the base64 of the
    * image BYTES, like [[embedVision]]. */
  def embedVisionStored(bytes: Column): Column =
    VectorOps.truncateKnown(featurize(base64(bytes), ModelDims), RefDims)

  /** Deterministic stand-in for the reference's image FETCH
    * (`embeddings.py:22-23` GETs the url): 16 bytes derived from the
    * url. A real deployment swaps this one expression for an HTTP
    * fetch; everything downstream operates on the bytes. */
  def fetchImageBytes(url: Column): Column = unhex(md5(url))

  /** Vision embedding over image BYTES (P6): models the reference's
    * fetch → RGB/JPEG re-encode → base64 → vision model chain
    * (`embeddings.py:18-43`) deterministically — the bytes are
    * base64-encoded (the representation the reference ships to the
    * model) and hash-featurized. Consumes the binary column, not the
    * url string. */
  def embedVision(bytes: Column, dims: Int = Dims): Column =
    VectorOps.truncateOrPad(featurize(base64(bytes), dims), dims)


  /** SQL rendering of [[featurize]] for the DuckDB oracle: a CTE
    * chain mapping `src(keyCol, textCol)` → `${prefix}feat(keyCol, v)`.
    * Distinct `prefix`es let several featurize chains coexist in one
    * statement (e.g. corpus + query side of a KNN). */
  def featurizeCtes(src: String, keyCol: String, textCol: String,
      dims: Int = Dims, prefix: String = ""): String = {
    val tok = TextOps.tokSql(textCol)
    s"""${prefix}_h AS (
       |  SELECT $keyCol, list_transform($tok,
       |    t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
       |  FROM $src),
       |${prefix}_raw AS (
       |  SELECT $keyCol, list_transform(generate_series(0, ${dims - 1}), i ->
       |      CAST(len(list_filter(hs, h -> h % $dims = i AND (h >> 6) % 2 = 0)) AS DOUBLE)
       |      - len(list_filter(hs, h -> h % $dims = i AND (h >> 6) % 2 = 1))) AS raw
       |  FROM ${prefix}_h),
       |${prefix}feat AS (
       |  SELECT $keyCol, list_transform(raw, x -> x / nrm) AS v
       |  FROM (SELECT $keyCol, raw, sqrt(list_dot_product(raw, raw)) AS nrm
       |        FROM ${prefix}_raw))""".stripMargin
  }
}
