package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runtime Bloom-filter join pruning — the Catalyst-NATIVE semi-join
  * reduction (SPARK-32268): when one join side carries a selective
  * filter, the optimizer builds a Bloom filter over its join keys at
  * RUNTIME and injects `bloom_filter_might_contain` into the other
  * side's scan, so most non-matching fact rows die before the
  * exchange instead of shuffling to a join that drops them. q88
  * builds this reduction BY HAND (explicit sketch + semi-join); this
  * query demands the optimizer do it — the difference matters at
  * 100 TB because the native filter rides the existing plan (no
  * second authored pass) and AQE sizes it from real stats.
  *
  * The injection thresholds default to production sizes (10 GiB
  * application-side scan) that a test SF never reaches, so the query
  * scopes them down — the q168 discipline: set confs, materialize
  * EAGERLY under them (the asserted plan IS the answer's plan),
  * restore in finally. Broadcast is disabled in-scope for the same
  * reason DPP tests disable it: a broadcast join already prunes via
  * its build side, and the Bloom path only engages on shuffle joins.
  */
object RuntimeFilter {

  /** Selective creation side: urgent-priority orders only. */
  val Priority = "1-URGENT"

  /** q176: revenue rollup of lineitems belonging to urgent orders via
    * a shuffle join whose fact side is HARD-ASSERTED to carry an
    * injected runtime Bloom filter on l_orderkey. */
  def bloomPrunedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "512MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    GraftSession.withConfs(spark, confs) {
      val urgent = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === Priority)
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val joined = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,10)")).cast("double"), 2).as("revenue"))
        .orderBy(col("o_year"))
      val out = joined.pin() // executes under the scoped confs
      val plan = joined.queryExecution.executedPlan.toString
      // the physical rendering: the fact-side Filter carries
      // might_contain(<subquery>) probing a bloom_filter_agg built
      // over the creation side's join keys
      require(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected into the fact side:\n$plan")
      out
    }
  }

  /** DuckDB oracle: the plain join rollup — runtime filters are a
    * pure execution optimization, never an answer change. */
  val bloomPrunedJoinSql: String =
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |  COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '$Priority'
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin
}
