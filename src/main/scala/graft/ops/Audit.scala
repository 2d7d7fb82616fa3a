package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline self-audit operators — the "measure, don't guess" layer a
  * 100 TB deployment runs continuously: ANN recall against the exact
  * scan, join-key skew diagnosis (the numbers that justify a salted
  * join before it ships), deterministic train/val/test splitting, and
  * one-pass table profiling.
  */
object Audit {

  // ---- q119: ANN recall@k audit ------------------------------------

  /** q119: recall@3 of both ANN variants — label-partition IVF (q28)
    * and learned k-means IVF (q42) — against the exact broadcast scan
    * (q26), per query and overall. The production feedback loop for
    * tuning nlist/nprobe: recall is the ONLY honest quality metric
    * for an ANN index, and computing it is itself a join problem.
    *
    * Shape: all three rankers end in per-query top-3 lists, so the
    * audit is two left joins over ≤9-row relations — every scan and
    * shuffle lives inside the audited rankers themselves. */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // each ranker materializes ONCE (pin): the audit then
    // joins three ≤k·queries-row tables — without the barrier, the
    // composed plan re-inlines three broadcast-KNN pipelines (plus the
    // k-means training subtree) into one tree and re-executes shared
    // stages per join side (measured 25 s warm vs ~2 s staged).
    // The three ranker chains are independent, so they materialize on
    // concurrent driver threads (r15; guide §2.6) — values are
    // scheduling-independent, only the interleaving changes.
    val Seq(exact, ivf, livf) = Par.run(
      () => Similarity.knnBruteForce(spark, sfDir)
        .select(col("q_id"), col("n_id")).pin(),
      () => Similarity.knnIvf(spark, sfDir)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit_ivf"))
        .pin(),
      () => KMeans.knnIvfKmeans(spark, sfDir)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit_livf"))
        .pin())
    exact
      .join(ivf, Seq("q_id", "n_id"), "left")
      .join(livf, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit_ivf"), lit(0L))).as("hits_ivf"),
        sum(coalesce(col("hit_livf"), lit(0L))).as("hits_livf"))
      .select(col("q_id"), col("k"),
        col("hits_ivf"),
        round(col("hits_ivf").cast("double") / col("k"), 6)
          .as("recall_ivf"),
        col("hits_livf"),
        round(col("hits_livf").cast("double") / col("k"), 6)
          .as("recall_livf"))
      .orderBy(col("q_id"))
  }

  val annRecallSql: String =
    s"""WITH exact AS (
      |  SELECT q_id, n_id FROM (${Similarity.knnBruteForceSql})),
      |ivf AS (
      |  SELECT q_id, n_id, 1 AS hit_ivf FROM (${Similarity.knnIvfSql})),
      |livf AS (
      |  SELECT q_id, n_id, 1 AS hit_livf FROM (${KMeans.knnIvfKmeansSql}))
      |SELECT exact.q_id, COUNT(*) AS k,
      |  CAST(SUM(COALESCE(hit_ivf, 0)) AS BIGINT) AS hits_ivf,
      |  ROUND(CAST(SUM(COALESCE(hit_ivf, 0)) AS DOUBLE) / COUNT(*), 6)
      |    AS recall_ivf,
      |  CAST(SUM(COALESCE(hit_livf, 0)) AS BIGINT) AS hits_livf,
      |  ROUND(CAST(SUM(COALESCE(hit_livf, 0)) AS DOUBLE) / COUNT(*), 6)
      |    AS recall_livf
      |FROM exact
      |LEFT JOIN ivf ON exact.q_id = ivf.q_id AND exact.n_id = ivf.n_id
      |LEFT JOIN livf ON exact.q_id = livf.q_id AND exact.n_id = livf.n_id
      |GROUP BY exact.q_id ORDER BY exact.q_id""".stripMargin

  // ---- q120: join-key skew audit -----------------------------------

  /** q120: skew diagnosis for a join key (events.user_id) — key
    * cardinality, max/avg per-key row count, and the share of rows
    * held by the 10 hottest keys. These are exactly the numbers that
    * decide between a plain shuffle join, AQE skew splitting, and
    * explicit salting (q39); at 100 TB you run THIS before choosing.
    *
    * Shape: one partial-agg groupBy on the key, then a 1-row stats
    * aggregate and a top-10 TakeOrderedAndProject over the per-key
    * counts — the count relation shuffles once, everything downstream
    * is constant-size. */
  def skewAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .pin() // feeds the stats row and the top-10 cut
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val top10 = counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
      .agg(sum(col("cnt")).as("top10_rows"))
    stats.crossJoin(top10)
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        round(col("n_rows").cast("double") / col("n_keys"), 6)
          .as("avg_cnt"),
        round(col("max_cnt").cast("double")
          / (col("n_rows").cast("double") / col("n_keys")), 6)
          .as("skew_ratio"),
        round(col("top10_rows").cast("double") / col("n_rows"), 6)
          .as("top10_share"))
  }

  val skewAuditSql: String =
    """WITH counts AS (
      |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
      |stats AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    MAX(cnt) AS max_cnt
      |  FROM counts),
      |top10 AS (
      |  SELECT SUM(cnt) AS top10_rows FROM (
      |    SELECT cnt FROM counts ORDER BY cnt DESC, user_id LIMIT 10))
      |SELECT n_keys, n_rows, max_cnt,
      |  ROUND(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_cnt,
      |  ROUND(CAST(max_cnt AS DOUBLE)
      |    / (CAST(n_rows AS DOUBLE) / n_keys), 6) AS skew_ratio,
      |  ROUND(CAST(top10_rows AS DOUBLE) / n_rows, 6) AS top10_share
      |FROM stats CROSS JOIN top10""".stripMargin

  // ---- q121: deterministic train/val/test split --------------------

  /** Split boundaries in hash-percent space: [0,80) train, [80,90)
    * val, [90,100) test. */
  val TrainPct = 80
  val ValPct = 90

  /** q121: content-stable train/val/test assignment — bucket =
    * hash60("split" ∥ doc_id) mod 100, so membership is a pure
    * function of the id (re-runs, re-shards, and late-arriving data
    * never move a document across the split boundary — the property
    * random() splits lack and training reproducibility requires).
    * Reports per-source × split counts and within-source fractions.
    *
    * Shape: the assignment is a scan-local expression (no shuffle);
    * the report is one partial-agg groupBy on (source, split) plus a
    * broadcast join of per-source totals. */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        pmod(TextOps.hash60(concat(lit("split"), col("doc_id"))), lit(100))
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < ValPct, "val")
          .otherwise("test"))
    val bySplit = assigned.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = assigned.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source"))
    bySplit.join(totals, Seq("source"))
      .select(col("source"), col("split"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_source"), 6)
          .as("frac"))
      .orderBy(col("source"), col("split"))
  }

  val splitAssignSql: String =
    s"""WITH assigned AS (
      |  SELECT doc_id, source,
      |    CASE
      |      WHEN ('0x' || substr(md5('split' || doc_id), 1, 15))::BIGINT
      |        % 100 < $TrainPct THEN 'train'
      |      WHEN ('0x' || substr(md5('split' || doc_id), 1, 15))::BIGINT
      |        % 100 < $ValPct THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM documents),
      |by_split AS (
      |  SELECT source, split, COUNT(*) AS n_docs
      |  FROM assigned GROUP BY source, split),
      |totals AS (
      |  SELECT source, COUNT(*) AS n_source FROM assigned GROUP BY source)
      |SELECT by_split.source, split, n_docs,
      |  ROUND(CAST(n_docs AS DOUBLE) / n_source, 6) AS frac
      |FROM by_split JOIN totals ON by_split.source = totals.source
      |ORDER BY by_split.source, split""".stripMargin

  // ---- q122: one-pass table profile --------------------------------

  /** q122: data profiling of the orders table — per-column null
    * count, exact distinct count, and min/max — in ONE scan: a single
    * aggregate row computes every statistic, then unpivots to
    * per-column rows (constant-size transpose). The ANALYZE/quality-
    * gate pass of an ingest pipeline; at 100 TB the exact distincts
    * would swap in the q89 HLL registers, same plan shape.
    *
    * Min/max render through explicitly pinned formats (decimal for
    * doubles, yyyy-MM-dd HH:mm:ss for timestamps) so both engines
    * produce byte-identical strings. */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    val agg = o.agg(
      count(lit(1)).as("n"),
      // o_orderkey
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
      countDistinct(col("o_orderkey")).as("nd1"),
      s(min(col("o_orderkey"))).as("mn1"), s(max(col("o_orderkey"))).as("mx1"),
      // o_custkey
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn2"),
      countDistinct(col("o_custkey")).as("nd2"),
      s(min(col("o_custkey"))).as("mn2"), s(max(col("o_custkey"))).as("mx2"),
      // o_orderstatus
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn3"),
      countDistinct(col("o_orderstatus")).as("nd3"),
      min(col("o_orderstatus")).as("mn3"), max(col("o_orderstatus")).as("mx3"),
      // o_totalprice
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn4"),
      countDistinct(col("o_totalprice")).as("nd4"),
      s(round(min(col("o_totalprice")), 2).cast("decimal(18,2)")).as("mn4"),
      s(round(max(col("o_totalprice")), 2).cast("decimal(18,2)")).as("mx4"),
      // o_orderdate
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn5"),
      countDistinct(col("o_orderdate")).as("nd5"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mn5"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mx5"),
      // o_orderpriority
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn6"),
      countDistinct(col("o_orderpriority")).as("nd6"),
      min(col("o_orderpriority")).as("mn6"), max(col("o_orderpriority")).as("mx6"))
    agg.select(col("n"), expr(
      """stack(6,
        | 'o_orderkey', nn1, nd1, mn1, mx1,
        | 'o_custkey', nn2, nd2, mn2, mx2,
        | 'o_orderstatus', nn3, nd3, mn3, mx3,
        | 'o_totalprice', nn4, nd4, mn4, mx4,
        | 'o_orderdate', nn5, nd5, mn5, mx5,
        | 'o_orderpriority', nn6, nd6, mn6, mx6)
        | AS (col_name, n_nulls, n_distinct, min_s, max_s)""".stripMargin))
      .select(col("col_name"), col("n"), col("n_nulls"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy(col("col_name"))
  }

  val tableProfileSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
      |    COUNT(DISTINCT o_orderkey) AS nd1,
      |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn1,
      |    CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
      |    COUNT(DISTINCT o_custkey) AS nd2,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS mn2,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
      |    COUNT(DISTINCT o_orderstatus) AS nd3,
      |    MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
      |    COUNT(DISTINCT o_totalprice) AS nd4,
      |    CAST(CAST(ROUND(MIN(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR) AS mn4,
      |    CAST(CAST(ROUND(MAX(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR) AS mx4,
      |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn5,
      |    COUNT(DISTINCT o_orderdate) AS nd5,
      |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn5,
      |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx5,
      |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn6,
      |    COUNT(DISTINCT o_orderpriority) AS nd6,
      |    MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
      |  FROM orders)
      |SELECT col_name, n, n_nulls, n_distinct, min_s, max_s FROM (
      |  SELECT 'o_orderkey' AS col_name, n, nn1 AS n_nulls, nd1 AS n_distinct,
      |    mn1 AS min_s, mx1 AS max_s FROM a
      |  UNION ALL SELECT 'o_custkey', n, nn2, nd2, mn2, mx2 FROM a
      |  UNION ALL SELECT 'o_orderstatus', n, nn3, nd3, mn3, mx3 FROM a
      |  UNION ALL SELECT 'o_totalprice', n, nn4, nd4, mn4, mx4 FROM a
      |  UNION ALL SELECT 'o_orderdate', n, nn5, nd5, mn5, mx5 FROM a
      |  UNION ALL SELECT 'o_orderpriority', n, nn6, nd6, mn6, mx6 FROM a)
      |ORDER BY col_name""".stripMargin

  // ---- q133: join-size preflight -----------------------------------

  /** q133: predict a join's output size BEFORE running it — per-key
    * row counts on both sides multiply and sum to the exact join
    * cardinality (Σ_k cA(k)·cB(k)); reported with both input sizes,
    * the implied explosion factor, and the single hottest key's
    * contribution. The preflight a 100 TB pipeline runs before an
    * untrusted join: the per-key count tables are tiny relative to
    * the data, and a 10⁴× explosion is caught for the cost of two
    * partial-agg groupBys and a key-table join instead of an OOM'd
    * shuffle three hours in.
    *
    * The prediction is exact (not an estimate), and the query also
    * RUNS the join to demonstrate the match — at scale you'd skip
    * that part; the audit is the point. */
  def joinPreflight(spark: SparkSession, sfDir: String): DataFrame = {
    val la = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val ob = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    val contrib = la.join(ob, Seq("k"))
      .select(col("k"), (col("ca") * col("cb")).as("rows_out"))
      .pin() // feeds the total and the argmax
    val predicted = contrib.agg(
      sum(col("rows_out")).as("predicted_rows"),
      max(col("rows_out")).as("hottest_key_rows"))
    val actual = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("actual_rows"))
    val sizes = Tables.lineitem(spark, sfDir)
      .agg(count(lit(1)).as("n_left"))
      .crossJoin(Tables.orders(spark, sfDir)
        .agg(count(lit(1)).as("n_right")))
    sizes.crossJoin(predicted).crossJoin(actual)
      .select(col("n_left"), col("n_right"), col("predicted_rows"),
        col("actual_rows"), col("hottest_key_rows"),
        round(col("predicted_rows").cast("double")
          / greatest(col("n_left"), col("n_right")), 6)
          .as("explosion_factor"))
  }

  val joinPreflightSql: String =
    """WITH la AS (
      |  SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY 1),
      |ob AS (
      |  SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1),
      |contrib AS (
      |  SELECT la.k, ca * cb AS rows_out FROM la JOIN ob ON la.k = ob.k),
      |pred AS (
      |  SELECT CAST(SUM(rows_out) AS BIGINT) AS predicted_rows,
      |    MAX(rows_out) AS hottest_key_rows FROM contrib),
      |act AS (
      |  SELECT COUNT(*) AS actual_rows
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |sizes AS (
      |  SELECT (SELECT COUNT(*) FROM lineitem) AS n_left,
      |    (SELECT COUNT(*) FROM orders) AS n_right)
      |SELECT n_left, n_right, predicted_rows, actual_rows,
      |  hottest_key_rows,
      |  ROUND(CAST(predicted_rows AS DOUBLE)
      |    / GREATEST(n_left, n_right), 6) AS explosion_factor
      |FROM sizes CROSS JOIN pred CROSS JOIN act""".stripMargin
}
