package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over the `documents` table — the core
  * training-data-pipeline family: exact (fingerprint groupBy),
  * n-gram Jaccard pair similarity, MinHash+LSH near-dup, SimHash.
  *
  * Test corpora are the shared documents table plus deterministic
  * mutated copies (upper-cased for exact-dup, token-appended for
  * near-dup), derived identically in the SQL oracle, so each
  * algorithm provably finds the planted duplicates.
  *
  * Scale design: every algorithm is a scan → per-row signature →
  * shuffle on signature/band key → within-bucket verification. No
  * all-pairs product ever materializes: candidates come from
  * hash-bucket joins (shingle, band, bit-prefix), which is the
  * standard 100 TB-safe shape; the verification join touches only
  * candidate pairs.
  */
object Dedup {

  val P31 = 2147483647L // 2^31-1, MinHash modulus (shared with streaming LSH)

  /** Fixed MinHash coefficients — deterministic LCG, shared verbatim
    * with the generated oracle SQL. */
  val minhashCoeffs: Seq[(Long, Long)] = {
    var x = 42L
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 33) % P31
    }
    Seq.fill(16)((math.max(1L, next()), next()))
  }

  // ---- corpora -------------------------------------------------

  /** documents ∪ upper-cased copies of id%7==0 (fingerprint-identical
    * dups) — exercises case/whitespace-insensitive exact dedup. */
  private[graft] def corpusExact(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 2, "q22 exact-dup corpus")
    val d = Tables.documents(spark, sfDir)
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + off).as("doc_id"),
          upper(col("text")).as("text")))
  }

  private[graft] val corpusExactCte =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(2)} AS doc_id, upper(text) AS text
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** documents ∪ near-dup copies of id%10==0 (three tokens appended →
    * Jaccard ≈ 0.9 against the original). */
  private[graft] def corpusNear(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 1, "q23 near-dup corpus")
    val d = Tables.documents(spark, sfDir)
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(" near dup tail")).as("text")))
  }

  private[graft] val corpusNearCte =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(1)} AS doc_id, text || ' near dup tail' AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  private val tokSql = TextOps.tokSql()

  /** shingle-hash list SQL (3-gram, distinct, md5-based 60-bit). */
  private[graft] val shingleSql =
    s"""list_distinct(list_transform(
       |  CASE WHEN len($tokSql) < 3 THEN [COALESCE(array_to_string($tokSql, ' '), '')]
       |       ELSE list_transform(generate_series(1, len($tokSql) - 2),
       |              i -> array_to_string(($tokSql)[i:i+2], ' ')) END,
       |  s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))""".stripMargin

  // ---- 1. exact dedup ------------------------------------------

  /** Exact dedup via normalized fingerprint: groups, keeps min id as
    * canonical, reports collapse stats. One shuffle on the 60-bit
    * fingerprint — the exact shape that holds at 100 TB. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    corpusExact(spark, sfDir)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(
        count(lit(1)).as("copies"), min(col("doc_id")).as("canonical_id"))
      .agg(
        count(lit(1)).as("distinct_docs"),
        sum(col("copies")).as("total_docs"),
        count(when(col("copies") > 1, 1)).as("dup_groups"),
        sum(when(col("copies") > 1, col("copies") - 1).otherwise(lit(0L)))
          .as("docs_removed"),
        sum(col("canonical_id")).as("canonical_id_sum"))

  val exactDedupSql: String =
    s"""WITH $corpusExactCte,
      |fps AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(array_to_string($tokSql, ' ')), 1, 15))::BIGINT AS fp
      |  FROM corpus),
      |groups AS (
      |  SELECT fp, COUNT(*) AS copies, MIN(doc_id) AS canonical_id
      |  FROM fps GROUP BY fp)
      |SELECT COUNT(*) AS distinct_docs, CAST(SUM(copies) AS BIGINT) AS total_docs,
      |  COUNT(*) FILTER (WHERE copies > 1) AS dup_groups,
      |  CAST(SUM(CASE WHEN copies > 1 THEN copies - 1 ELSE 0 END) AS BIGINT) AS docs_removed,
      |  CAST(SUM(canonical_id) AS BIGINT) AS canonical_id_sum
      |FROM groups""".stripMargin

  // ---- 2. n-gram Jaccard pairs ---------------------------------

  /** q23 surface: the near-dup pairs in deterministic (a_id, b_id)
    * order for the oracle hash. Consumers that don't need the order
    * (the CC family) use [[pinJaccardPairs]] — a global sort
    * materialized through checkpoint/collect pays the range
    * partitioner's SAMPLING pass, which re-executes the verification
    * join (the pipeline's most expensive uncached stage) a second
    * time. Under q23's own `count()` the optimizer eliminates the
    * sort, which is why q23 solo never showed the cost. */
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairsUnsorted(spark, sfDir).orderBy(col("a_id"), col("b_id"))

  /** Near-dup pairs by exact 3-gram Jaccard ≥ 0.6, via PREFIX
    * FILTERING (Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection"): rank each doc's shingles by global
    * document frequency ascending; a pair with Jaccard ≥ t MUST share
    * a shingle within each side's first n-⌈t·n⌉+1 rarest shingles, so
    * candidates come only from those prefixes — the rare end of the
    * df distribution, where bucket sizes are tiny. This keeps the
    * candidate join linear-ish at 100 TB where a naive inverted-index
    * self-join explodes on frequent shingles. Verification is exact
    * (array_intersect on full shingle sets); the result set is
    * IDENTICAL to the naive algorithm. */
  def jaccardPairsUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingledDocs(spark, sfDir).cache()
    verifiedPairs(docs, prefixes(docs).cache())
  }

  /** [[jaccardPairsUnsorted]] handed to `pin`, with both of its caches
    * dropped once `pin` has materialized what it returns: for a
    * consumer (the CC family's pair table) that keeps only the pinned
    * pairs. */
  private[graft] def pinJaccardPairs(spark: SparkSession, sfDir: String)(
      pin: DataFrame => DataFrame): DataFrame =
    Materialize.cached(shingledDocs(spark, sfDir)) { docs =>
      Materialize.cached(prefixes(docs))(prefix => pin(verifiedPairs(docs, prefix)))
    }

  // repartition: the source is one small parquet file → one input
  // partition; the md5-shingle computation is CPU-bound and must
  // spread across cores. The shingled docs feed the inverted index AND
  // both sides of the verification join, so callers cache them —
  // without it the most expensive stage recomputes 4×.
  private def shingledDocs(spark: SparkSession, sfDir: String): DataFrame =
    corpusNear(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        TextOps.shingleHashesFromTokens(col("toks")).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** Each doc's prefix shingles; both sides of the candidate self-join
    * read them, so callers cache them. */
  private def prefixes(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = docs.select(col("doc_id"), col("n_sh"),
      explode(col("sh")).as("h"))
    val dfreq = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // prefix length n - ceil(0.6 n) + 1, integer arithmetic
    inv.join(dfreq, Seq("h"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("h"))))
      .filter(col("r") <=
        col("n_sh") - ((col("n_sh") * 6 + 9) / 10).cast("long") + 1)
      .select(col("doc_id"), col("h"))
  }

  private def verifiedPairs(docs: DataFrame, prefix: DataFrame): DataFrame = {
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("sh").as("sha"),
        col("n_sh").as("na")), Seq("a_id"))
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("shb"),
        col("n_sh").as("nb")), Seq("b_id"))
      .withColumn("shared", size(array_intersect(col("sha"), col("shb"))))
      // filter on the UNROUNDED ratio (mirrors the oracle, which only
      // rounds in the projection — rounding first would admit pairs in
      // [t - 5e-7, t) that the oracle rejects)
      .withColumn("jac_raw", col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")))
      .filter(col("jac_raw") >= 0.6)
      .select(col("a_id"), col("b_id"), round(col("jac_raw"), 6).as("jaccard"))
  }

  val jaccardPairsSql: String =
    s"""WITH $corpusNearCte,
      |sh AS (SELECT doc_id, $shingleSql AS sh FROM corpus),
      |docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh),
      |inv AS (SELECT doc_id, n_sh, unnest(sh) AS h FROM docs),
      |dfreq AS (SELECT h, COUNT(*) AS df FROM inv GROUP BY h),
      |prefix AS (
      |  SELECT doc_id, h FROM (
      |    SELECT i.doc_id, i.h, i.n_sh,
      |      ROW_NUMBER() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.h) AS r
      |    FROM inv i JOIN dfreq d ON i.h = d.h)
      |  WHERE r <= n_sh - (n_sh * 6 + 9) // 10 + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id),
      |verified AS (
      |  SELECT c.a_id, c.b_id,
      |    len(list_intersect(da.sh, db.sh)) AS shared,
      |    da.n_sh AS na, db.n_sh AS nb
      |  FROM cand c
      |  JOIN docs da ON da.doc_id = c.a_id
      |  JOIN docs db ON db.doc_id = c.b_id)
      |SELECT a_id, b_id,
      |  ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
      |FROM verified
      |WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.6
      |ORDER BY a_id, b_id""".stripMargin

  // ---- 3. MinHash + LSH ----------------------------------------

  /** The shingled near-dup corpus (doc_id, sh), cached — feeds
    * signatures and the verification joins; shared with the q217
    * estimator audit. */
  private[graft] def shingledNear(spark: SparkSession,
      sfDir: String): DataFrame =
    corpusNear(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        TextOps.shingleHashesFromTokens(col("toks")).as("sh"))
      .cache() // feeds signatures + both verification joins

  /** (doc_id, sh, m0..m15): the 16-permutation signature columns. */
  private[graft] def signedOf(docs: DataFrame): DataFrame = {
    val sig = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("sh"),
        x => (lit(a) * pmod(x, lit(P31)) + lit(b)) % lit(P31))).as(s"m$i")
    }
    docs.select(col("doc_id") +: col("sh") +: sig: _*)
  }

  /** The exploded (doc_id, bkey) banded inverted index of a signed
    * relation — 4 bands × 4 rows. */
  private[graft] def invOf(signed: DataFrame): DataFrame = {
    val bands = (0 until 4).map { bi =>
      concat_ws("-", (0 until 4).map(ri => col(s"m${bi * 4 + ri}")): _*)
        .as(s"band$bi")
    }
    val banded = signed.select(col("doc_id") +: bands: _*)
    banded.select(col("doc_id"),
      explode(array((0 until 4).map(bi =>
        concat_ws(":", lit(bi), col(s"band$bi"))): _*)).as("bkey"))
  }

  /** Distinct candidate pairs (a_id < b_id) of an inverted index. */
  private[graft] def candOf(inv: DataFrame): DataFrame =
    inv.as("a").join(inv.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** q24: 16-permutation MinHash signature, banded 4×4; band-bucket
    * join yields candidates, exact Jaccard ≥ 0.5 verifies. The
    * signature is 16 longs per doc regardless of doc length — the
    * property that makes near-dedup feasible at 100 TB (shuffle
    * carries signatures, not shingle sets). */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingledNear(spark, sfDir)
    val signed = signedOf(docs)
    // candidates carry only ids through the band join + distinct;
    // shingle arrays join back once per surviving pair (shuffling
    // signatures, not shingle sets — the property that scales)
    val cand = candOf(invOf(signed))
    val sized = docs.withColumn("n_sh", size(col("sh")))
    cand
      .join(sized.select(col("doc_id").as("a_id"), col("sh").as("sha"),
        col("n_sh").as("na")), Seq("a_id"))
      .join(sized.select(col("doc_id").as("b_id"), col("sh").as("shb"),
        col("n_sh").as("nb")), Seq("b_id"))
      .withColumn("shared", size(array_intersect(col("sha"), col("shb"))))
      // unrounded filter, round only in the projection (see jaccardPairs)
      .withColumn("jac_raw", col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")))
      .filter(col("jac_raw") >= 0.5)
      .select(col("a_id"), col("b_id"), round(col("jac_raw"), 6).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The `sh → sig → banded → inv` CTE chain (expects a `corpus`
    * CTE in scope): per-doc shingle hashes, 16-perm MinHash, 4×4
    * banding, and the exploded (doc_id, bkey) inverted index — the
    * q24 band-key formulation, single-sourced so the streaming LSH
    * oracle (q157) can never drift from the batch one. */
  private[graft] val bandInvCtes: String = {
    val sigExprs = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(sh, x -> ($a * (x % $P31) + $b) % $P31)) AS m$i"
    }.mkString(",\n    ")
    val bandExprs = (0 until 4).map { bi =>
      val cols = (0 until 4).map(ri => s"m${bi * 4 + ri}")
      s"$bi || ':' || ${cols.mkString(" || '-' || ")} AS band$bi"
    }.mkString(",\n    ")
    s"""sh AS (SELECT doc_id, $shingleSql AS sh FROM corpus),
      |sig AS (
      |  SELECT doc_id, sh, len(sh) AS n_sh,
      |    $sigExprs
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id,
      |    $bandExprs
      |  FROM sig),
      |inv AS (
      |  SELECT doc_id, unnest([band0, band1, band2, band3]) AS bkey
      |  FROM banded)""".stripMargin
  }

  val minhashLshSql: String = {
    s"""WITH $corpusNearCte,
      |$bandInvCtes,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM inv a JOIN inv b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |sized AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh),
      |verified AS (
      |  SELECT c.a_id, c.b_id,
      |    len(list_intersect(da.sh, db.sh)) AS shared,
      |    da.n_sh AS na, db.n_sh AS nb
      |  FROM cand c
      |  JOIN sized da ON da.doc_id = c.a_id
      |  JOIN sized db ON db.doc_id = c.b_id)
      |SELECT a_id, b_id,
      |  ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
      |FROM verified
      |WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- 4. SimHash ----------------------------------------------

  /** 32-bit SimHash over distinct token hashes; near-dups = pairs at
    * Hamming distance ≤ 6, candidates via MULTI-PROBE banding: 4
    * bands of 8 bits each, a pair is a candidate iff SOME band is
    * equal. Pigeonhole: any pair at Hamming ≤ 3 has an untouched band
    * → guaranteed found; at distance 4-6 the differing bits must
    * spread across all four bands to escape. (The previous single
    * high-16 bucket required ALL differing bits to fall in the low
    * half — strictly lower recall; banding is its scale
    * generalization.) Shuffle carries (doc_id, simhash, band, key8)
    * only — signature-sized, length-independent.
    *
    * DESIGN BOUNDARY — pair output is quadratic in duplicate-cluster
    * size: candidate volume is exactly Σ over (band, key) buckets of
    * C(n, 2) (DedupSpec pins this identity), so a corpus whose
    * duplicate clusters grow 100× emits ~10⁴× the pairs (sf0.1's
    * 5.6M-row result IS the pair set, not overhead). The scale
    * mitigation is group-level output — feed these pairs to q53's
    * connected components and emit one row per GROUP — not pair-level
    * enumeration. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val hs = array_distinct(transform(TextOps.tokens(col("text")),
      t => TextOps.hash60(t)))
    val simhash = (0 until 32).map { j =>
      when(aggregate(col("hs"), lit(0L),
        (acc, h) => acc + when(shiftright(h, j) % 2 === 1, 1L)
          .otherwise(-1L)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val docs = corpusNear(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), hs.as("hs"))
      .withColumn("simhash", simhash)
      .select(col("doc_id"), col("simhash"))
      .cache() // both sides of the band self-join
    val banded = docs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.simhash").as("sha"), col("b.simhash").as("shb"))
      .distinct() // a pair can match in several bands
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hamming") <= 6)
      .select(col("a_id"), col("b_id"),
        col("hamming").cast("long").as("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val simhashPairsSql: String = {
    val bitTerms = (0 until 32).map { j =>
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n      + ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 AS key FROM sh"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH $corpusNearCte,
      |hs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform($tokSql,
      |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS hs
      |  FROM corpus),
      |sh AS (
      |  SELECT doc_id,
      |    ($bitTerms) AS simhash
      |  FROM hs),
      |banded AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.simhash AS sha, b.simhash AS shb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id,
      |  CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(sha, shb)) <= 6
      |ORDER BY a_id, b_id""".stripMargin
  }
}
