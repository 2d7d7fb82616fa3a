package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q234: Zipf/Heaps vocabulary-law audit — the two classical sanity
  * statistics of a text corpus (Zipf 1949; Heaps 1978), which a
  * training-data pipeline checks because departures flag corpus
  * pathology: a Zipf slope far off ≈ −1 over the frequency head
  * marks templated/boilerplate-heavy text (too flat: synthetic
  * uniformity; too steep: a few tokens dominating), and a Heaps
  * exponent β far off the 0.4–0.6 web band marks vocabulary
  * saturation (near-duplicate mass) or runaway novelty (noise/OCR
  * garbage). Both complement q152's order-sensitive novelty curve
  * and q230's Good-Turing unseen mass with closed-form law fits.
  *
  * Zipf: OLS of ln(freq) on ln(rank) over the top-[[ZipfTopR]]
  * frequency ranks (the head is where the law holds; rank ties
  * break by token for a deterministic ranking). Heaps: OLS of
  * ln(cumulative vocabulary) on ln(cumulative tokens) across the 10
  * doc-id deciles — V(N) = K·N^β linearizes to the same regression
  * shape.
  *
  * Scale: one tokenize-explode → ONE vocab partial-agg carrying both
  * per-token facts (count + first-occurrence doc) — checkpointed, the
  * q230 lesson, since three consumers read it; the Zipf head is a
  * TakeOrdered top-R (no global sort materialization), the Heaps
  * census collapses to 10 decile rows before its window, and both
  * OLS fits run over bounded relations (≤R and 10 rows). Per-doc
  * token totals are a second map-side-combinable agg on the same
  * scan shape. Nothing data-proportional crosses a driver or a
  * broadcast.
  *
  * Engine parity: every ln is ROUND(ln(·), 9) (the q69 convention),
  * OLS moments accumulate as DECIMAL(28,12) sums → DOUBLE, outputs
  * ROUND 6 — bit-identical across engines.
  *
  * Gate-corpus caveat: the synthetic documents table draws from a
  * CLOSED ~31-token vocabulary (the same fact behind q230's
  * no-hapax sf0.001 case), so the fitted values at the gates are
  * degenerate by construction (flat tied head, vocabulary exhausted
  * in decile 0) — the gate certifies the ARITHMETIC, bit-for-bit;
  * the law diagnostics mean something on real text.
  */
object Zipf {

  val ZipfTopR = 100

  private def olsAgg(x: Column, y: Column): Seq[Column] = Seq(
    count(lit(1)).cast("double").as("n"),
    sum(x.cast("decimal(28,12)")).cast("double").as("sx"),
    sum(y.cast("decimal(28,12)")).cast("double").as("sy"),
    sum((x * x).cast("decimal(28,12)")).cast("double").as("sxx"),
    sum((x * y).cast("decimal(28,12)")).cast("double").as("sxy"),
    sum((y * y).cast("decimal(28,12)")).cast("double").as("syy"))

  private def slopeR2(prefix: String): Seq[Column] = {
    val n = col("n"); val sx = col("sx"); val sy = col("sy")
    val sxx = col("sxx"); val sxy = col("sxy"); val syy = col("syy")
    val cov = n * sxy - sx * sy
    val varX = n * sxx - sx * sx
    val varY = n * syy - sy * sy
    // Degenerate-fit discipline (r13 hash-gate lesson), two layers:
    // (1) q208 convention — an EXACTLY zero variance axis has no law
    // to fit, publish NULL; (2) a near-flat axis leaves cov as a
    // sub-rounding residual whose ROUND is a SIGNED zero that
    // differs across engines (Spark's BigDecimal round drops the
    // sign, DuckDB's keeps it; the driver hashes bits) — `+ 0.0`
    // after the round maps -0.0 → 0.0 identically in both engines
    // and is the IEEE identity on every other value.
    val degenerate = varX === 0.0 || varY === 0.0
    Seq(when(degenerate, lit(null))
        .otherwise(round(cov / varX, 6) + lit(0.0)).as(s"${prefix}_slope"),
      when(degenerate, lit(null))
        .otherwise(round((cov * cov) / (varX * varY), 6) + lit(0.0))
        .as(s"${prefix}_r2"))
  }

  def zipfHeaps(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val span = Planted.maxDocId(spark, sfDir) + 1
    // one explode, one agg, both per-token facts; three consumers
    val vocab = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("f"), min(col("doc_id")).as("first_doc"))
      .pin()
    val totals = vocab.agg(
      count(lit(1)).as("n_vocab"),
      sum(col("f")).cast("long").as("n_tokens"))
    // Zipf head: deterministic rank, bounded top-R relation
    val head = vocab
      .orderBy(col("f").desc, col("tok")).limit(ZipfTopR)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("f").desc, col("tok"))))
      .select(round(log(col("rank").cast("double")), 9).as("x"),
        round(log(col("f").cast("double")), 9).as("y"))
    val zipf = head.agg(olsAgg(col("x"), col("y")).head,
      olsAgg(col("x"), col("y")).tail: _*)
      .select(slopeR2("zipf"): _*)
    // Heaps: per-decile new-vocab and token counts → cumulative → OLS
    val newV = vocab
      .groupBy(floor(col("first_doc") * 10 / span).as("dec"))
      .agg(count(lit(1)).as("nv"))
    val decTok = docs
      .select(floor(col("doc_id") * 10 / span).as("dec"),
        TextOps.tokenCount(col("text")).cast("long").as("nt"))
      .groupBy(col("dec")).agg(sum(col("nt")).as("ntok"))
    val w = Window.orderBy(col("dec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LEFT from the token side: every decile holds documents, but a
    // decile can mint zero NEW vocabulary — an inner join would drop
    // its token mass from every later cumulative point
    val heapsPts = decTok.join(newV, Seq("dec"), "left")
      .select(col("dec"),
        sum(col("ntok")).over(w).as("cum_n"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("cum_v"))
      .select(round(log(col("cum_n").cast("double")), 9).as("x"),
        round(log(col("cum_v").cast("double")), 9).as("y"))
    val heaps = heapsPts.agg(olsAgg(col("x"), col("y")).head,
      olsAgg(col("x"), col("y")).tail: _*)
      .select(slopeR2("heaps"): _*)
    totals.crossJoin(zipf).crossJoin(heaps)
      .select(col("n_vocab"), col("n_tokens"),
        col("zipf_slope"), col("zipf_r2"),
        col("heaps_slope").as("heaps_beta"), col("heaps_r2"))
  }

  val zipfHeapsSql: String = {
    val tok = TextOps.tokSql()
    def ols(src: String) =
      s"""SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
        |FROM $src""".stripMargin
    def slopeR2(src: String, p: String) =
      s"""SELECT
        |  CASE WHEN (n * sxx - sx * sx) = 0.0 OR (n * syy - sy * sy) = 0.0
        |    THEN NULL
        |    ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
        |  END AS ${p}_slope,
        |  CASE WHEN (n * sxx - sx * sx) = 0.0 OR (n * syy - sy * sy) = 0.0
        |    THEN NULL
        |    ELSE ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
        |  END AS ${p}_r2
        |FROM $src""".stripMargin
    s"""WITH span AS (SELECT MAX(doc_id) + 1 AS s FROM documents),
      |vocab AS (
      |  SELECT tok, COUNT(*) AS f, MIN(doc_id) AS first_doc
      |  FROM (SELECT doc_id, unnest($tok) AS tok FROM documents)
      |  GROUP BY tok),
      |totals AS (
      |  SELECT COUNT(*) AS n_vocab, CAST(SUM(f) AS BIGINT) AS n_tokens
      |  FROM vocab),
      |head AS (
      |  SELECT ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS DOUBLE)), 9) AS x,
      |    ROUND(ln(CAST(f AS DOUBLE)), 9) AS y
      |  FROM (SELECT * FROM vocab ORDER BY f DESC, tok LIMIT $ZipfTopR)),
      |zm AS (${ols("head")}),
      |zipf AS (${slopeR2("zm", "zipf")}),
      |newv AS (
      |  SELECT first_doc * 10 // (SELECT s FROM span) AS dec, COUNT(*) AS nv
      |  FROM vocab GROUP BY 1),
      |dectok AS (
      |  SELECT doc_id * 10 // (SELECT s FROM span) AS dec,
      |    CAST(SUM(len($tok)) AS BIGINT) AS ntok
      |  FROM documents GROUP BY 1),
      |hpts AS (
      |  SELECT ROUND(ln(CAST(SUM(ntok) OVER (ORDER BY dec) AS DOUBLE)), 9) AS x,
      |    ROUND(ln(CAST(SUM(nv) OVER (ORDER BY dec) AS DOUBLE)), 9) AS y
      |  FROM (SELECT d.dec, COALESCE(n.nv, 0) AS nv, d.ntok
      |        FROM dectok d LEFT JOIN newv n USING (dec))),
      |hm AS (${ols("hpts")}),
      |heaps AS (SELECT zipf_slope AS heaps_beta, zipf_r2 AS heaps_r2
      |          FROM (${slopeR2("hm", "zipf")}))
      |SELECT n_vocab, n_tokens, zipf.zipf_slope, zipf.zipf_r2,
      |  heaps.heaps_beta, heaps.heaps_r2
      |FROM totals, zipf, heaps""".stripMargin
  }
}
