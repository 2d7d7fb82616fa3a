package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) — the rolling-hash boundary
  * technique of rsync and LBFS (Muthitacharoen et al., SOSP 2001),
  * the storage-dedup workhorse: chunk boundaries are placed where a
  * hash of the trailing byte window hits a residue, so boundaries
  * move WITH the content — insert a prefix and every downstream chunk
  * re-aligns, where fixed-size blocking would shift every block and
  * find nothing. The census plants exactly that scenario (shifted
  * twin documents) and reports how much of each base document's chunk
  * set survives in its twin.
  *
  * The boundary rule is the PURE content-defined form (cut wherever
  * H(window) ≡ 0 mod D, no min/max clamps): stateless per position,
  * which is what makes it expressible as column math — an 8-char
  * window polynomial in base 31 evaluated by codegen'd HOFs on both
  * engines, no UDF, no sequential fold. (Production CDC adds min/max
  * chunk clamps — a sequential scan-local detail that changes
  * constants, not the shift-robustness this census measures.)
  *
  * Scale shape: chunking is per-row HOF work inside the scan; only
  * (doc_id, chunk_hash) pairs cross the exchange (never chunk text),
  * the dup census is a partial-agg'd group on hash, and the twin
  * recovery join carries distinct hashes per pair.
  */
object Cdc {

  /** Window 8, base 31, boundary residue divisor 64 (≈ one cut per
    * 64 chars on random text). */
  val Divisor = 64

  /** Twin ids: every 9th doc gets a prefix-shifted copy, re-keyed
    * into the slot-1 planted decade ([[Planted.familyOffset]]). */
  val TwinEvery = 9
  val TwinPrefix = "zz "

  /** The 8-term window polynomial Σ code·31^k as a SQL expr over
    * lambda position `i` (window = chars i-7..i, 1-based), reading
    * from a pre-materialized per-row `codes` array. Max value ~3e13 —
    * exact in BIGINT/Long on both engines.
    *
    * Why an array and not `substring(text, i-k, 1)` inside the
    * lambda: UTF8String substring walks from the string start, so the
    * lambda form costs O(position) PER TERM and the whole scan goes
    * quadratic in document length (measured 13.9 s at sf0.1; the
    * array form is 8 O(1) reads per position). The VALUES are
    * identical — the oracle keeps the substr rendering, and the
    * cross-engine hash equality is the proof. */
  private def hashTerms: String =
    (0 to 7).map { k =>
      val pow = math.pow(31.0, 7 - k).toLong
      s"element_at(codes, i - ${7 - k}) * $pow"
    }.mkString(" + ")

  /** Per-row code-point array: one O(len) pass. */
  private val codesExpr: String =
    "transform(split(text, ''), c -> cast(ascii(c) as bigint))"

  /** Cut bounds of `text` (0, content-defined cuts, len) as a Spark
    * SQL expression over the bound `codes` column. */
  private def boundsExpr: String =
    s"""concat(array(0),
       |  filter(sequence(8, length(text)), i -> ($hashTerms) % $Divisor = 0),
       |  array(length(text)))""".stripMargin

  /** Chunks from the bounds column, zero-length tails filtered. */
  private val chunksFromBounds: String =
    """filter(
      |  transform(
      |    sequence(1, size(bnd) - 1),
      |    j -> substring(text, element_at(bnd, j) + 1,
      |                   element_at(bnd, j + 1) - element_at(bnd, j))),
      |  c -> length(c) > 0)""".stripMargin

  private def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 1, "q182 cdc twins")
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val twins = base.filter(pmod(col("doc_id"), lit(TwinEvery)) === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(lit(TwinPrefix), col("text")).as("text"))
    base.unionByName(twins)
  }

  /** q182: CDC census — chunk volume and sizing, cross-doc duplicate
    * chunk groups, and the shifted-twin recovery rate (the number
    * fixed-size blocking scores ~0 on). */
  def cdcCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 1, "q182 cdc twins")
    val chunks = corpus(spark, sfDir)
      .withColumn("codes", expr(codesExpr))
      .withColumn("bnd", expr(boundsExpr))
      .select(col("doc_id"), explode(expr(chunksFromBounds)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).as("clen"))
      .pin()
    val volume = chunks.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_chunks"),
      round(sum(col("clen").cast("decimal(28,6)")).cast("double")
        / count(lit(1)), 4).as("avg_chunk_len"))
    val dups = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .agg(sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dup_chunk_groups"))
    val baseH = chunks.filter(col("doc_id") < off
        && pmod(col("doc_id"), lit(TwinEvery)) === 0)
      .select(col("doc_id"), col("h")).distinct()
    val twinH = chunks.filter(col("doc_id") >= off)
      .select((col("doc_id") - off).as("doc_id"), col("h")).distinct()
    // LEFT join so a twin sharing NOTHING still yields a pair with
    // r = 0 (a semi-join would silently drop it from the mean);
    // twinH is (doc_id, h)-distinct, so the join never duplicates
    val recovery = baseH.as("b")
      .join(twinH.as("t"), col("b.doc_id") === col("t.doc_id")
        && col("b.h") === col("t.h"), "left")
      .groupBy(col("b.doc_id"))
      .agg(count(col("t.h")).as("shared"), count(lit(1)).as("nbase"))
      .select(round(col("shared").cast("double") / col("nbase"), 9).as("r"))
      .agg(count(lit(1)).as("twin_pairs"),
        round(sum(col("r").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_twin_recovery"))
    volume.crossJoin(broadcast(dups)).crossJoin(broadcast(recovery))
  }

  /** DuckDB oracle: identical polynomial, cuts, chunking, and
    * censuses — list ops end to end. */
  val cdcCensusSql: String = {
    val h = (0 to 7).map { k =>
      val pow = math.pow(31.0, 7 - k).toLong
      s"CAST(ascii(substr(text, i - ${7 - k}, 1)) AS BIGINT) * $pow"
    }.mkString(" + ")
    s"""WITH corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(1)}, '$TwinPrefix' || text FROM documents
      |  WHERE doc_id % $TwinEvery = 0),
      |bounds AS (
      |  SELECT doc_id, text,
      |    list_concat(list_concat([CAST(0 AS BIGINT)],
      |      list_filter(generate_series(8, length(text)),
      |        i -> ($h) % $Divisor = 0)),
      |      [CAST(length(text) AS BIGINT)]) AS b
      |  FROM corpus),
      |chunks AS (
      |  SELECT doc_id, md5(c) AS h, length(c) AS clen
      |  FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      list_transform(generate_series(1, len(b) - 1),
      |        j -> substr(text, b[j] + 1, b[j + 1] - b[j])),
      |      c -> length(c) > 0)) AS c
      |    FROM bounds)),
      |volume AS (
      |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    ROUND(CAST(SUM(CAST(clen AS DECIMAL(28,6))) AS DOUBLE)
      |      / COUNT(*), 4) AS avg_chunk_len
      |  FROM chunks),
      |dups AS (
      |  SELECT CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_chunk_groups
      |  FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd
      |        FROM chunks GROUP BY h)),
      |base_h AS (
      |  SELECT DISTINCT doc_id, h FROM chunks
      |  WHERE doc_id < ${Planted.offsetSql(1)} AND doc_id % $TwinEvery = 0),
      |twin_h AS (
      |  SELECT DISTINCT doc_id - ${Planted.offsetSql(1)} AS doc_id, h FROM chunks
      |  WHERE doc_id >= ${Planted.offsetSql(1)}),
      |recov AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS twin_pairs,
      |    ROUND(CAST(SUM(CAST(r AS DECIMAL(28,12))) AS DOUBLE)
      |      / COUNT(*), 6) AS avg_twin_recovery
      |  FROM (
      |    SELECT b.doc_id,
      |      ROUND(CAST(COUNT(DISTINCT CASE WHEN t.h IS NOT NULL
      |        THEN b.h END) AS DOUBLE)
      |        / COUNT(DISTINCT b.h), 9) AS r
      |    FROM base_h b LEFT JOIN twin_h t
      |      ON b.doc_id = t.doc_id AND b.h = t.h
      |    GROUP BY b.doc_id))
      |SELECT * FROM volume CROSS JOIN dups CROSS JOIN recov""".stripMargin
  }
}
