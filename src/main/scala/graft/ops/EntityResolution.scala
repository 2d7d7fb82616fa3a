package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage) — the dedup family member the
  * near-dup operators don't cover: q22-q27 collapse *documents* whose
  * CONTENT matches, but a catalog or CRM dedups *records* whose
  * identifying FIELDS almost match ("Acme Corp" vs "Acme Corp.").
  * The reference's upsert sink (`/root/reference/backend/src/db/
  * postgres.py` url-keyed ON CONFLICT) resolves entities only on
  * exact key equality; this operator is the fuzzy generalization:
  * Fellegi-Sunter-style blocking + pairwise comparison + transitive
  * closure into entity clusters.
  *
  * Scale shape (the classic ER discipline): candidate pairs come ONLY
  * from blocking-key groups — never an all-pairs comparison — so the
  * comparison count is bounded by Σ block² over bounded blocks, the
  * knob a 100 TB deployment tunes via key design and multi-pass
  * blocking; the edge relation that reaches the clustering step
  * carries two longs per matched pair (no names); and the closure
  * itself is [[Components.minLabelLoop]] — broadcast label joins with
  * an observe-metric size switch, converging in diameter hops (match
  * clusters are stars around the canonical record, diameter ≤ 2).
  */
object EntityResolution {

  /** Max Levenshtein distance for a field match. */
  val MaxDist = 2

  /** Records under resolution: the part catalog plus two planted
    * variant families — a trailing-char typo (every 5th key) and a
    * truncated tail (every 7th key) — the perturbations a re-listed
    * catalog entry actually carries. Variant ids are offset so the
    * planted provenance stays visible in the output clusters. */
  private def records(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.part(spark, sfDir)
      .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name"))
    val typos = base.filter(pmod(col("id"), lit(5)) === 0)
      .select((col("id") + 1000000L).as("id"),
        concat(substring(col("name"), lit(1), length(col("name")) - 1),
          lit("x")).as("name"))
    val drops = base.filter(pmod(col("id"), lit(7)) === 0)
      .select((col("id") + 2000000L).as("id"),
        substring(col("name"), lit(1), length(col("name")) - 1).as("name"))
    base.unionByName(typos).unionByName(drops)
      .withColumn("blk", substring(col("name"), 1, 8))
  }

  /** q171: entity clusters over the part catalog — exact-collapse
    * first, then blocked pairwise Levenshtein over DISTINCT names
    * only, symmetric edge closure, one row per resolved entity. The
    * exact collapse (the q167 discipline) is what survives scale: the
    * catalog reuses names heavily, so the quadratic comparison stage
    * runs over name-GROUPS (bounded by the name domain) and record
    * counts expand arithmetically from group sizes — identical
    * records never meet pairwise. The 8-char-prefix blocking key
    * bounds comparisons inside each block; both planted variant
    * families keep the prefix, so recall on the planted truth is
    * exact. */
  def resolveCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    val groups = records(spark, sfDir)
      .groupBy(col("name"), col("blk"))
      .agg(min(col("id")).as("gid"), count(lit(1)).as("cnt"))
      .cache()
    val pairs = Blocking.pairs(groups, "gid", "blk")
      .filter(levenshtein(col("a_name"), col("b_name")) <= MaxDist)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val labels = Components.minLabelLoop(edges, 10)
    val out = labels.join(groups, col("node") === col("gid"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_names"),
        sum(col("cnt")).as("n_records"),
        min_by(col("name"), col("gid")).as("canonical_name"))
      .orderBy(col("cluster_id"))
    groups.unpersist()
    out
  }

  /** DuckDB oracle: identical blocking and planted variants; the
    * closure is a recursive reachability CTE min-labeled per node —
    * TRUE connected components, which the Spark side also returns
    * because the min-label loop runs to convergence (early-exit
    * check; 10-round cap >> the planted diameter). */
  val resolveCatalogSql: String =
    s"""WITH RECURSIVE base AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name FROM part),
      |typos AS (
      |  SELECT id + 1000000 AS id,
      |    substr(name, 1, length(name) - 1) || 'x' AS name
      |  FROM base WHERE id % 5 = 0),
      |drops AS (
      |  SELECT id + 2000000 AS id, substr(name, 1, length(name) - 1) AS name
      |  FROM base WHERE id % 7 = 0),
      |recs AS (
      |  SELECT id, name, substr(name, 1, 8) AS blk
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM typos
      |        UNION ALL SELECT * FROM drops)),
      |grps AS (
      |  SELECT name, blk, MIN(id) AS gid, COUNT(*) AS cnt
      |  FROM recs GROUP BY name, blk),
      |pairs AS (
      |  SELECT a.gid AS a, b.gid AS b
      |  FROM grps a JOIN grps b ON a.blk = b.blk AND a.gid < b.gid
      |  WHERE levenshtein(a.name, b.name) <= $MaxDist),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL SELECT b, a FROM pairs),
      |cc AS (
      |  SELECT src AS node, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS node, cc.lbl AS lbl
      |  FROM cc JOIN edges e ON e.src = cc.node),
      |labels AS (SELECT node, MIN(lbl) AS lbl FROM cc GROUP BY node)
      |SELECT l.lbl AS cluster_id, COUNT(*) AS n_names,
      |  CAST(SUM(g.cnt) AS BIGINT) AS n_records,
      |  arg_min(g.name, g.gid) AS canonical_name
      |FROM labels l JOIN grps g ON g.gid = l.node
      |GROUP BY l.lbl
      |ORDER BY cluster_id""".stripMargin
}
