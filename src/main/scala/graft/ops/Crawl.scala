package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl frontier expansion (S1 + J3): BFS over a link graph with
  * per-depth dedup — the Spark shape of the reference's Scrapy
  * spider + dupefilter (`dynamic_spider.py:13-25`, depth-limited by
  * `DEPTH_LIMIT`, `settings.py:10`).
  *
  * The link graph derives from lineitem (order page → part page
  * links, keys folded mod 2000), the BFS is a driver-side loop of
  * `join frontier → distinct → anti-join visited → union`, one
  * DataFrame stage per depth level — partition-parallel fetch with a
  * set-semantics frontier, which is how an iterative crawl scales
  * (frontier shuffles on node id; visited set stays distributed).
  * Oracle: DuckDB recursive CTE with the same edge derivation.
  */
object Crawl {

  val MaxDepth = 3

  /** (src, dst) edge list folded onto 2000 synthetic page ids. */
  private def edges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_orderkey"), lit(2000)).as("src"),
        pmod(col("l_partkey"), lit(2000)).as("dst"))
      .distinct()

  /** BFS from page 0: every reachable page with its minimum depth
    * ≤ 3, plus the per-depth frontier size the reference exposes as
    * crawl stats (A5). */
  def frontierBfs(spark: SparkSession, sfDir: String): DataFrame = {
    val es = edges(spark, sfDir).cache()
    try {
      var visited = spark.range(1).select(lit(0L).as("node"),
        lit(0).as("depth"))
      var frontier = visited.select(col("node"))
      for (d <- 1 to MaxDepth) {
        val next = es.join(frontier, col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
        // eager checkpoint truncates lineage per level; the next
        // frontier reads the materialized checkpoint, so no level's
        // joins are ever recomputed
        visited = visited.unionByName(
          next.withColumn("depth", lit(d))).pin()
        frontier = visited.filter(col("depth") === d).select(col("node"))
      }
      visited.groupBy(col("depth"))
        .agg(count(lit(1)).as("n_pages"), sum(col("node")).as("node_sum"))
        .orderBy(col("depth"))
    } finally es.unpersist()
  }

  val frontierBfsSql: String =
    s"""WITH RECURSIVE edges AS (
      |  SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
      |  FROM lineitem),
      |bfs AS (
      |  SELECT 0::BIGINT AS node, 0 AS depth
      |  UNION
      |  SELECT e.dst AS node, b.depth + 1 AS depth
      |  FROM bfs b JOIN edges e ON e.src = b.node
      |  WHERE b.depth < $MaxDepth),
      |mind AS (SELECT node, MIN(depth) AS depth FROM bfs GROUP BY node)
      |SELECT depth, COUNT(*) AS n_pages, CAST(SUM(node) AS BIGINT) AS node_sum
      |FROM mind GROUP BY depth ORDER BY depth""".stripMargin

  /** Spider restrictions the plain BFS ignores: the reference's
    * LinkExtractor only follows links inside `allowed_domains`
    * (`dynamic_spider.py:13-25`, `tasks.py:35-39` builds them from
    * the job's domain) and the crawler obeys robots.txt
    * (`ROBOTSTXT_OBEY`, `settings.py:7-10`). Model: page domain =
    * node % 20, allowed = domains 0-9, robots-disallowed = node %
    * 97 == 3 (a per-URL disallow rule). Disallowed/off-domain links
    * are PRUNED AT EXPANSION — they never enter the frontier, exactly
    * like the spider never enqueuing them. */
  val AllowedDomains = 10 // domains 0..9 of 20

  /** The spider's fetch policy on a candidate target. */
  def allowedTarget(dst: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(dst, lit(20)) < AllowedDomains && pmod(dst, lit(97)) =!= 3

  /** (node, depth) visited set of the restricted BFS — exposed so
    * tests can assert the policy on every fetched page, not just on
    * the rollup checksums. */
  def restrictedVisited(spark: SparkSession, sfDir: String): DataFrame = {
    val es = edges(spark, sfDir).filter(allowedTarget(col("dst"))).cache()
    try {
      var visited = spark.range(1).select(lit(0L).as("node"),
        lit(0).as("depth"))
      var frontier = visited.select(col("node"))
      for (d <- 1 to MaxDepth) {
        val next = es.join(frontier, col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
        visited = visited.unionByName(
          next.withColumn("depth", lit(d))).pin()
        frontier = visited.filter(col("depth") === d).select(col("node"))
      }
      visited
    } finally es.unpersist()
  }

  def frontierBfsRestricted(spark: SparkSession, sfDir: String): DataFrame =
    restrictedVisited(spark, sfDir)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_pages"), sum(col("node")).as("node_sum"))
      .orderBy(col("depth"))

  val frontierBfsRestrictedSql: String =
    s"""WITH RECURSIVE edges AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
      |    FROM lineitem)
      |  WHERE dst % 20 < $AllowedDomains AND dst % 97 <> 3),
      |bfs AS (
      |  SELECT 0::BIGINT AS node, 0 AS depth
      |  UNION
      |  SELECT e.dst AS node, b.depth + 1 AS depth
      |  FROM bfs b JOIN edges e ON e.src = b.node
      |  WHERE b.depth < $MaxDepth),
      |mind AS (SELECT node, MIN(depth) AS depth FROM bfs GROUP BY node)
      |SELECT depth, COUNT(*) AS n_pages, CAST(SUM(node) AS BIGINT) AS node_sum
      |FROM mind GROUP BY depth ORDER BY depth""".stripMargin
}
