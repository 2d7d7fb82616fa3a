package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-view pattern:
  * keep a daily rollup as MERGEABLE partial states (count + exact
  * DECIMAL sum), fold new batches in by key without touching
  * historical partitions. At 100 TB this is the difference between
  * re-scanning the corpus per refresh and touching only the delta;
  * the merge is exact (decimal addition is associative), so the
  * maintained view is bit-identical to a full recompute — which is
  * precisely what the oracle checks (it recomputes from scratch).
  */
object Incremental {

  /** Partial-state rollup of one slice: (event_type, day, n, sum). */
  private def partial(slice: DataFrame): DataFrame =
    slice
      .withColumn("day", col("ts").cast("date"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,10)")).as("v"))

  /** Merge any number of partial-state rollups by key — exact. */
  def merge(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("v")).as("v"))

  /** Finalize partial states to the published view schema. */
  def finalize(view: DataFrame): DataFrame =
    view.select(col("event_type"), col("day").cast("string").as("day"),
      col("n"), round(col("v").cast("double"), 2).as("total_value"))

  /** q71: maintain the daily rollup across a mid-day cutoff — the
    * base slice and the delta slice SHARE the cutoff day, so the
    * merge genuinely folds states rather than concatenating disjoint
    * keys. The oracle recomputes the same rollup from scratch over
    * all events; equality proves the incremental path exact. */
  def incrementalRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val cutoff = lit("2024-07-01 12:00:00").cast("timestamp")
    val base = partial(e.filter(col("ts") < cutoff))
    val delta = partial(e.filter(col("ts") >= cutoff))
    finalize(merge(base, delta))
      .orderBy(col("event_type"), col("day"))
  }

  val incrementalRollupSql: String =
    """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 2) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  // ---- q125: incremental corpus dedup ------------------------------

  /** q125: dedup a new ingest increment against an existing corpus
    * WITHOUT re-deduping the corpus — the daily-batch flow at 100 TB,
    * where the corpus fingerprint set is a materialized artifact and
    * per-day work must be ∝ increment, not ∝ corpus. Documents with
    * doc_id ≡ 0 (mod 10) play the increment; the rest are the
    * standing corpus.
    *
    * Two stages, both on the 60-bit content fingerprint: (1)
    * within-batch exact dedup keeps the min doc_id per fingerprint;
    * (2) a LEFT ANTI join drops survivors whose fingerprint already
    * exists in the corpus. The shuffle carries (fp, doc_id) pairs
    * only; the corpus side reduces to distinct fingerprints before
    * the join (partial-agg, then the anti join probes — at scale
    * this side comes pre-bucketed from the previous day's output,
    * and stage 2's join is bucket-local). */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = graft.functions.TextOps.fingerprint(col("text"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), fp.as("fp"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .pin() // feeds both stages and the totals
    val corpusFps = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("fp")).distinct()
    val withinKept = batch.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
    val kept = withinKept.join(corpusFps, Seq("fp"), "left_anti")
    val nBatch = batch.agg(count(lit(1)).as("n_batch"))
    val nWithin = withinKept.agg(
      count(lit(1)).as("n_within_unique"),
      sum(col("copies") - 1).as("n_within_dups"))
    val nKept = kept.agg(count(lit(1)).as("n_kept"))
    nBatch.crossJoin(nWithin).crossJoin(nKept)
      .select(col("n_batch"), col("n_within_unique"), col("n_within_dups"),
        (col("n_within_unique") - col("n_kept")).as("n_corpus_dups"),
        col("n_kept"),
        round(col("n_kept").cast("double") / col("n_batch"), 6)
          .as("keep_rate"))
  }

  val incrementalDedupSql: String = {
    val tok = graft.functions.TextOps.tokSql()
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(array_to_string($tok, ' ')), 1, 15))::BIGINT AS fp
      |  FROM documents),
      |batch AS (SELECT * FROM docs WHERE doc_id % 10 = 0),
      |corpus AS (
      |  SELECT DISTINCT fp FROM docs WHERE doc_id % 10 <> 0),
      |within AS (
      |  SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS copies
      |  FROM batch GROUP BY fp),
      |kept AS (
      |  SELECT within.fp FROM within
      |  LEFT JOIN corpus ON within.fp = corpus.fp
      |  WHERE corpus.fp IS NULL)
      |SELECT
      |  (SELECT COUNT(*) FROM batch) AS n_batch,
      |  (SELECT COUNT(*) FROM within) AS n_within_unique,
      |  (SELECT CAST(SUM(copies - 1) AS BIGINT) FROM within) AS n_within_dups,
      |  (SELECT COUNT(*) FROM within) - (SELECT COUNT(*) FROM kept)
      |    AS n_corpus_dups,
      |  (SELECT COUNT(*) FROM kept) AS n_kept,
      |  ROUND(CAST((SELECT COUNT(*) FROM kept) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM batch), 6) AS keep_rate""".stripMargin
  }
}
