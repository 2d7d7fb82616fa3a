package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AQE skew-join — the OPTIMIZER's answer to the problem
  * [[Skew.saltedJoin]] solves by hand (SPARK-29544): at execution
  * time AQE reads the real post-shuffle partition sizes, recognizes a
  * partition dwarfing the median, and splits it into parallel
  * sub-partitions (duplicating the matching build-side rows) — no
  * authored salt, no plan rewrite, and it composes with every other
  * join in the query. Salting remains the right tool for the
  * pathological single-key case AND for aggregations; this query
  * makes the automatic path CORRECTNESS-visible and hard-asserts it
  * actually engaged, because a silently-not-triggering skew handler
  * is the worst kind: the answer stays right while one straggler
  * task quietly becomes the job's wall clock.
  *
  * Two structural preconditions, both learned the hard way and now
  * documented in the shape of this query:
  *   - BOTH join children must be bare shuffle stages: the rule
  *     pattern-matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)),
  *     so a dim side carrying its own aggregation (e.g. a
  *     `distinct()` derived from the fact table) pins the join to the
  *     agg's output partitioning and the rule never fires. The dim
  *     here is an independent table, the production star shape.
  *   - NO downstream consumer of the join's key partitioning: a
  *     split invalidates the join's output-partitioning guarantee,
  *     so if anything downstream reuses it (e.g. a COUNT(DISTINCT
  *     key) whose partial agg rides the k-clustering), AQE vetoes
  *     the split as "would add a shuffle" unless
  *     `forceOptimizeSkewedJoin` is set. The rollup here groups by
  *     a dim attribute, which re-shuffles regardless — the split is
  *     free, and the rule fires without forcing.
  *   - Skew SPLITS ARE MAPPER RANGES: a shuffle written by one map
  *     task cannot be split at all. The test-SF parquet is a single
  *     row group (one mapper), so the fact side round-robins through
  *     8 partitions first — standing in for the thousands of mappers
  *     any production scan has; the repartition is NOT part of the
  *     operator's contract.
  *
  * The skew thresholds default to production sizes (256 MB) a test SF
  * never reaches, so the query scopes them down — the q168/q176
  * discipline: set confs, materialize EAGERLY under them (the
  * asserted plan IS the answer's plan), restore in finally.
  * Broadcast is disabled in-scope: a broadcast join has no shuffle to
  * skew, and the skew handler only engages on sort-merge /
  * shuffled-hash joins — exactly the 100 TB regime, where neither
  * side of a big join broadcasts.
  */
object AqeSkew {

  /** q187: events with a planted hot key (a third of all traffic
    * folded onto user 0) joined to the customer dim WITHOUT salting;
    * AQE's skew split is HARD-ASSERTED in the executed plan. Oracle =
    * the plain join — skew handling is a pure physical rewrite. */
  /** The EXACT conf set the query scopes-and-restores — exposed so
    * the no-leak spec iterates this list instead of a hand-copied
    * subset (ADVICE r9: a restore regression in an unchecked key
    * would leak into every later query in the session). */
  private[graft] val ScopedConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // sf-scaled: the hot partition is ~1/3 of the fact side (tens
    // of KB compressed); "skewed" = >2x median and >4KB
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def skewJoinRollup(spark: SparkSession, sfDir: String): DataFrame = {
    GraftSession.withConfs(spark, ScopedConfs) {
      val e = Tables.events(spark, sfDir)
        .select(when(pmod(col("user_id"), lit(3)) === 0, lit(0L))
          .otherwise(col("user_id")).as("k"), col("value"))
        .repartition(8) // multi-mapper stand-in (see scaladoc)
      val dim = Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"))
      val joined = e.join(dim, Seq("k"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(28,10)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy(col("segment"))
      val out = joined.pin() // executes under scoped confs
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("skew=true"),
        s"AQE skew-join must engage on the hot partition, got:\n$plan")
      out
    }
  }

  /** DuckDB oracle: the plain join rollup. */
  val skewJoinRollupSql: String =
    """WITH e AS (
      |  SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k,
      |    value
      |  FROM events),
      |dim AS (
      |  SELECT c_custkey AS k, c_mktsegment AS segment FROM customer)
      |SELECT segment, COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 2)
      |    AS value_sum
      |FROM e JOIN dim ON e.k = dim.k
      |GROUP BY segment ORDER BY segment""".stripMargin
}
