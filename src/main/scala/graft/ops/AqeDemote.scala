package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AQE runtime join demotion — the third member of the
  * made-CORRECTNESS-visible AQE family (q187 skew split, q176
  * runtime Bloom): when the static planner cannot see how selective
  * a filter is (no column stats — the norm on a fresh 100 TB drop),
  * it sizes the filtered side at the full scan and plans a
  * SortMergeJoin; AQE measures the ACTUAL shuffle bytes at runtime
  * and replans the join as a BroadcastHashJoin, skipping the
  * probe-side sort and the reduce-side shuffle read entirely. At
  * scale this is the difference between "every join on an
  * unanalyzed table pessimizes to SMJ forever" and "the first
  * execution fixes it".
  *
  * The two thresholds are DIFFERENT confs, and the query's scoped
  * setup documents that: the static `autoBroadcastJoinThreshold` is
  * floored (so the overestimated plan honestly picks SMJ — the
  * unanalyzed-table reality), while
  * `spark.sql.adaptive.autoBroadcastJoinThreshold` carries the real
  * budget the RUNTIME decision gets to use. Assertions read both
  * halves of the adaptive plan string: the INITIAL plan must carry
  * the SortMergeJoin (the static mistake) and the FINAL plan the
  * BroadcastHashJoin (the runtime fix) — same eager-materialize +
  * restore discipline as q168/q176/q187.
  */
object AqeDemote {

  /** Selective build side: low-priority orders only. */
  val Priority = "5-LOW"

  /** q192: revenue rollup of lineitems on low-priority orders; the
    * executed plan is HARD-ASSERTED to have started as SMJ and
    * finished as a runtime broadcast. Oracle = the plain join. */
  /** The EXACT conf set the query scopes-and-restores — exposed so
    * the no-leak spec iterates this list instead of a hand-copied
    * subset (ADVICE r9). */
  private[graft] val ScopedConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // static planner: no stats, filtered side sized at full scan,
    // and a floored static threshold → SMJ on paper
    "spark.sql.autoBroadcastJoinThreshold" -> "1KB",
    // runtime decision: the measured post-filter bytes fit easily
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "8MB",
    "spark.sql.adaptive.localShuffleReader.enabled" -> "true")

  def demotedJoinRollup(spark: SparkSession, sfDir: String): DataFrame = {
    GraftSession.withConfs(spark, ScopedConfs) {
      val low = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === Priority)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val joined = li.join(low, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,10)")).cast("double"), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
      val out = joined.pin() // executes under scoped confs
      val plan = joined.queryExecution.executedPlan.toString
      val split = plan.indexOf("== Initial Plan ==")
      require(split > 0, s"expected an adaptive plan with both halves:\n$plan")
      val (finalPlan, initialPlan) = (plan.substring(0, split),
        plan.substring(split))
      require(initialPlan.contains("SortMergeJoin"),
        s"static plan must start as SMJ (the unanalyzed-table reality):\n$plan")
      require(finalPlan.contains("BroadcastHashJoin"),
        s"runtime must demote to a broadcast join:\n$plan")
      out
    }
  }

  /** DuckDB oracle: the plain join rollup — join strategy is a pure
    * physical choice. */
  val demotedJoinRollupSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '$Priority'
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
}
