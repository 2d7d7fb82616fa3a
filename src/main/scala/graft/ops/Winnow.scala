package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
  * MOSS algorithm): slide a window of [[W]] consecutive k-gram hashes
  * over each document and keep each window's MINIMUM hash. The
  * selected set is a position-robust fingerprint with a hard
  * guarantee the q21 rolling-hash fingerprints lack: any shared token
  * run of at least K+W-1 tokens is ALWAYS detected (every length-W
  * window inside the run selects the same minimum in both documents).
  * This is the standard plagiarism/contamination primitive between
  * exact hashing (q22) and probabilistic MinHash (q24).
  *
  * Scale shape: fingerprint selection is one scan (hashing + windowed
  * min are per-row HOFs, no shuffle); the pair stage shuffles
  * (fp_hash, doc_id) only — 8 bytes per selected fingerprint, density
  * ≈ 2/(W+1) per shingle — then counts shared fingerprints per
  * candidate pair. Same inverted-index join shape as q63
  * contamination; hot fingerprints (boilerplate) are the documented
  * skew risk and get df-capped exactly like hot shingles in q23.
  *
  * Selection rule: plain window minimum (ties collapse via
  * `array_distinct` on the selected multiset — fingerprints form a
  * SET per document, so the original's rightmost-tie rule changes
  * nothing downstream).
  */
object Winnow {

  val K = 3        // tokens per shingle
  val W = 4        // consecutive shingle hashes per winnowing window
  val MaxDf = 50   // fingerprints shared by more docs are boilerplate

  /** documents ∪ near-dup copies of id%10==0 (same planted corpus as
    * the q23/q24 dedup family — guarantees detectable shared runs). */
  private def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val off = Planted.familyOffset(spark, sfDir, 1, "q102 winnow corpus")
    val d = Tables.documents(spark, sfDir)
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(" near dup tail")).as("text")))
  }

  private val corpusCte =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(1)} AS doc_id, text || ' near dup tail' AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Per-document winnowing fingerprint set (doc_id, fp). */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    // bind the token array before the shingle HOF (codegen lesson:
    // inlining the tokenizer subtree multiplies the expression tree);
    // repartition ahead of the md5-shingling projection — the corpus
    // arrives as one input split and the hashing is CPU-bound (the
    // q23 lesson: a single task shingling the whole corpus is the
    // same bug at any scale)
    // the hash array is referenced three times downstream (filter,
    // window count, per-window slice) — stage it through a
    // materialization barrier or projection collapse inlines the
    // md5-shingling into every reference (the q27 lesson; measured
    // 14 s → sub-second at sf0.1)
    val hs = corpus(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      // the repartition doubles as a projection-collapse barrier: the
      // token array materializes once instead of being inlined into
      // the shingle HOF's three references
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        transform(TextOps.shinglesFromTokens(col("toks"), K),
          s => TextOps.hash60(s)).as("hs"))
      .pin()
    hs.where(size(col("hs")) >= W)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), size(col("hs")) - (W - 1)),
            i => array_min(slice(col("hs"), i, lit(W)))))).as("fp"))
  }

  /** q102: top-10 document pairs by shared winnowing fingerprints —
    * the planted near-dup copies must surface. */
  def winnowPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // fingerprints feed both sides of the pair join — materialize once
    val fps = fingerprints(spark, sfDir).pin()
    val byFp = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= MaxDf)
    // merge hint: `fps` is a pinned LogicalRDD whose
    // inherited stats under-report the corpus-proportional
    // fingerprint relation; the static planner broadcast it BuildLeft
    // into the df-cap join and AQE cannot demote a checkpoint-fed
    // broadcast (the q27/q194 mechanism). Shuffle on fp instead —
    // the pair join downstream already rides that partitioning.
    val hot = fps.hint("merge").join(byFp, Seq("fp"))
      .select(col("doc_id"), col("fp"))
    val a = hot.select(col("fp"), col("doc_id").as("a_id"))
    val b = hot.select(col("fp"), col("doc_id").as("b_id"))
    a.join(b, Seq("fp"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .orderBy(col("shared_fps").desc, col("a_id"), col("b_id"))
      .limit(10)
  }

  val winnowPairsSql: String = {
    val tok = TextOps.tokSql()
    s"""WITH $corpusCte,
      |h AS (
      |  SELECT doc_id, hs FROM (
      |    SELECT doc_id, list_transform(
      |      CASE WHEN len($tok) < $K THEN [COALESCE(array_to_string($tok, ' '), '')]
      |           ELSE list_transform(generate_series(1, len($tok) - ${K - 1}),
      |                  i -> array_to_string(($tok)[i:i+${K - 1}], ' ')) END,
      |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      |    FROM corpus)
      |  WHERE len(hs) >= $W),
      |fps AS (
      |  SELECT DISTINCT doc_id, fp FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(generate_series(1, len(hs) - ${W - 1}),
      |        i -> list_min(hs[i:i+${W - 1}]))) AS fp
      |    FROM h)),
      |df AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp),
      |hot AS (
      |  SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp)
      |  WHERE df.df <= $MaxDf)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared_fps
      |FROM hot a JOIN hot b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |ORDER BY shared_fps DESC, a_id, b_id
      |LIMIT 10""".stripMargin
  }
}
