package graft.ops

import graft.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Job-ledger operators (S6-S9 + the Q3 state machine, reference
  * `db.py:94-163`): point lookup, delete-as-filter, status rollups,
  * dynamic update as a merge. All pure built-ins; on a cluster the
  * ledger is a small table — every op here is scan+filter or a
  * broadcast merge, never a wide shuffle.
  */
object Ledger {

  /** Status rollup (F3/A3 + O4 shape): counts per status, one pass. */
  def statusCounts(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.jobs(spark, sfDir)
      .groupBy(col("status")).agg(
        count(lit(1)).as("n"),
        min(col("created_at")).cast("date").as("first_created"),
        max(col("created_at")).cast("date").as("last_created"))
      .orderBy(col("status"))

  val statusCountsSql: String =
    s"""WITH ${Corpus.jobsCte}
      |SELECT status, COUNT(*) AS n,
      |  CAST(MIN(created_at) AS DATE) AS first_created,
      |  CAST(MAX(created_at) AS DATE) AS last_created
      |FROM jobs GROUP BY status ORDER BY status""".stripMargin

  /** Point lookup (S9): `SELECT * FROM jobs WHERE id=%s` — parquet
    * min/max + predicate pushdown does the B-tree's job. */
  def jobLookup(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.jobs(spark, sfDir)
      .filter(col("id") === "job-42")
      .select(col("id"), col("status"), col("param_domain"),
        col("param_depth"), col("created_at").cast("date").as("created_d"))

  val jobLookupSql: String =
    s"""WITH ${Corpus.jobsCte}
      |SELECT id, status, param_domain, param_depth,
      |  CAST(created_at AS DATE) AS created_d
      |FROM jobs WHERE id = 'job-42'""".stripMargin

  /** Job update (S7): set status='stopped' + bump updated_at on a key
    * set (running jobs of one domain), expressed as a merge — the
    * update row set is tiny → broadcast left join + coalesce, no
    * shuffle of the ledger. Output: the new state of the touched
    * domain's jobs. */
  def jobUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val jobs = Corpus.jobs(spark, sfDir)
    val updates = jobs
      .filter(col("status") === "running" && col("param_domain") === "d3.test")
      .select(col("id").as("u_id"), lit("stopped").as("u_status"))
    jobs.join(broadcast(updates), col("id") === col("u_id"), "left")
      .select(col("id"),
        coalesce(col("u_status"), col("status")).as("status"),
        col("param_domain"))
      .filter(col("param_domain") === "d3.test")
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  val jobUpdateSql: String =
    s"""WITH ${Corpus.jobsCte},
      |updates AS (
      |  SELECT id AS u_id, 'stopped' AS u_status FROM jobs
      |  WHERE status = 'running' AND param_domain = 'd3.test'),
      |merged AS (
      |  SELECT j.id, COALESCE(u.u_status, j.status) AS status, j.param_domain
      |  FROM jobs j LEFT JOIN updates u ON j.id = u.u_id)
      |SELECT status, COUNT(*) AS n FROM merged
      |WHERE param_domain = 'd3.test'
      |GROUP BY status ORDER BY status""".stripMargin

  /** Job delete (S8): delete = anti-join rewrite; report surviving
    * count + checksum so the oracle checks the whole surviving set. */
  def jobDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val jobs = Corpus.jobs(spark, sfDir)
    val doomed = jobs.filter(col("status") === "failed")
      .select(col("id"))
    jobs.join(doomed, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("surviving"),
        count(when(col("status") === "failed", 1)).as("failed_left"))
  }

  val jobDeleteSql: String =
    s"""WITH ${Corpus.jobsCte}
      |SELECT COUNT(*) AS surviving,
      |  COUNT(*) FILTER (WHERE status = 'failed') AS failed_left
      |FROM jobs WHERE id NOT IN (SELECT id FROM jobs WHERE status = 'failed')""".stripMargin

  /** q77: the stop lifecycle over the ledger — the frontend's
    * declared stop surface (`jobs.tsx:38` lists stopping/stopped,
    * `api.ts:69-77` posts stop per job) driven through the validated
    * state machine ([[graft.streaming.Ingest.ValidTransitions]]):
    * every running job of one domain gets a stop request
    * (running → stopping), the workers acknowledge
    * (stopping → stopped), and jobs already terminal are untouched
    * (the request is a silent no-op, like the reference's
    * unvalidated endpoint). Output: final status counts per domain
    * slice plus the global machine tally. */
  def jobStop(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.Ingest
    val t = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    val jobs = Corpus.jobs(spark, sfDir)
    val afterRequest =
      Ingest.transition(jobs, col("param_domain") === "d3.test", "stopping", t)
    val done = Ingest.transition(afterRequest, lit(true), "stopped", t)
    done
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        count(when(col("param_domain") === "d3.test", 1)).as("n_d3"))
      .orderBy(col("status"))
  }

  val jobStopSql: String =
    s"""WITH ${Corpus.jobsCte},
      |s1 AS (
      |  SELECT id, param_domain,
      |    CASE WHEN status = 'running' AND param_domain = 'd3.test'
      |         THEN 'stopping' ELSE status END AS status
      |  FROM jobs),
      |s2 AS (
      |  SELECT id, param_domain,
      |    CASE WHEN status = 'stopping' THEN 'stopped' ELSE status END AS status
      |  FROM s1)
      |SELECT status, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE param_domain = 'd3.test') AS n_d3
      |FROM s2 GROUP BY status ORDER BY status""".stripMargin
}
