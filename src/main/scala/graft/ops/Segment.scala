package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer/behavior segmentation analytics: RFM decile grids, robust
  * (MAD) outlier detection, and sequential path mining — the
  * workloads a marketing/product warehouse layers on the same event
  * and order history the engine already serves.
  */
object Segment {

  /** q131: RFM segmentation — per customer recency (days since last
    * order, vs the corpus max date), frequency (order count), and
    * monetary (total spend); customers land in NTILE(10) deciles per
    * dimension (order pinned by (metric, custkey) so both engines
    * tile identically), reported as the (r_decile, f_decile) grid
    * with counts and average spend.
    *
    * Shape: one partial-agg groupBy per customer, a broadcast 1-row
    * anchor, then the decile tiling — SIZE-CONDITIONAL (r16, VERDICT
    * r15 #4): while the SOURCE scan is small ([[SmallNtileBytes]],
    * from the optimizer's own size statistics — a metadata read, no
    * extra job), the tiling keeps the plain global-window NTILE, the
    * exact pre-r16 plan (sorting one row per customer in one task is
    * trivial there). At or above it the tiling switches to
    * [[distributedNtile]] — the unconditional `NTILE(10) OVER
    * (ORDER BY …)` windows each sorted the ENTIRE relation in one
    * partition, a one-task bottleneck at 100 TB. Both branches
    * produce identical tiles (NtileParitySpec). Ends in a ≤100-row
    * grid aggregate. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val anchor = orders.agg(max(to_date(col("o_orderdate"))).as("maxd"))
    val rfm = orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("lastd"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice").cast("decimal(28,6)")).cast("double"), 4)
          .as("monetary"))
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("lastd")).as("recency"),
        col("frequency"), col("monetary"))
    val rCols = Seq(col("recency"), col("o_custkey"))
    val fCols = Seq(col("frequency").desc, col("o_custkey"))
    val small = orders.queryExecution.optimizedPlan.stats.sizeInBytes <
      SmallNtileBytes
    val withDeciles =
      if (small)
        rfm.withColumn("r_decile", ntile(10).over(Window.orderBy(rCols: _*)))
          .withColumn("f_decile", ntile(10).over(Window.orderBy(fCols: _*)))
      else
        distributedNtile(distributedNtile(rfm, 10, rCols, "r_decile"),
          10, fCols, "f_decile")
    withDeciles.groupBy(col("r_decile"), col("f_decile"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("monetary").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 4).as("avg_monetary"))
      .orderBy(col("r_decile"), col("f_decile"))
  }

  /** Orders scans below this size tile through the plain global
    * window: the windowed relation holds ONE slim row per customer
    * (an order-of-magnitude fewer rows than the scan), and a
    * one-task sort at that scale runs in ~100 ms — below the two
    * extra exchanges + materializations the distributed shape pays.
    * Above it the one-task sort is the bottleneck (and a single-node
    * memory hazard), so [[distributedNtile]] takes over — the same
    * size-conditional discipline as [[Materialize.SmallRows]], keyed
    * on the optimizer's size estimate so the bench-scale plan stays
    * byte-identical to the pre-r16 one. */
  val SmallNtileBytes: Long = 1L << 30

  /** Exact `NTILE(n) OVER (ORDER BY sortCols)` with NO data-sized
    * single-partition sort (r16; guide §2 — the two-phase rank):
    *
    *   1. range-partition the relation on the sort key (parallel),
    *   2. row_number within each range partition (parallel window,
    *      partitioned by the captured range-partition id),
    *   3. per-partition counts → running offsets + the grand total
    *      (a window over ≤ numPartitions rows — metadata-scale, the
    *      only remaining global step),
    *   4. global rank = offset + local row number, then Spark's own
    *      NTILE bucketing rule in closed form: with q = N/n and
    *      rem = N%n, the first rem buckets hold q+1 rows —
    *      bucket(r) = (r-1)/(q+1)+1 for r ≤ (q+1)·rem, else
    *      rem + (r-(q+1)·rem-1)/q + 1.
    *
    * Identical output to the window form for ANY total order
    * (NtileParitySpec pins it, including every N % n residue):
    * range partitions are key-contiguous and ascending in partition
    * id, so offset+local rank IS the global rank, and the closed
    * form is literally NTile's row allocation. `sortCols` must be a
    * total order (the callers tiebreak on the unique key) — with
    * ties the window form itself would be nondeterministic.
    *
    * Cost shape: one range exchange of the relation (reused by the
    * counts branch via ReuseExchange) + one pid hash exchange,
    * against the window form's sort of EVERYTHING in one task. At
    * bench SF the relation is small either way; at 100 TB only this
    * shape finishes. */
  private[graft] def distributedNtile(df: DataFrame, n: Int,
      sortCols: Seq[Column], out: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // the pid capture is MATERIALIZED: the local-rank branch and the
    // offsets branch below both consume it, and two separate
    // evaluations would re-sample the range boundaries (the range
    // partitioner's reservoir seed varies per materialization) —
    // offsets computed against one boundary set applied to ranks from
    // another produced out-of-range buckets (probed: the q131 grid
    // row count flapped 100/103 run to run before the pin). Any ONE
    // boundary set yields the same global ranks (total order), so the
    // pinned result is deterministic across runs too.
    val rng = df.repartitionByRange(p, sortCols: _*)
      .withColumn("__pid", spark_partition_id()).pin()
    val local = rng.withColumn("__lr", row_number().over(
      Window.partitionBy(col("__pid")).orderBy(sortCols: _*)))
    // ≤ p rows: offsets and the grand total, metadata-scale
    val offs = rng.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .select(col("__pid"),
        coalesce(sum(col("__c")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__off"),
        sum(col("__c")).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
          .as("__n"))
    // integral `div` throughout: exact for any N, with no double
    // quotient truncated back to a long
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    val q = div(col("__n"), lit(n.toLong))
    val rem = col("__n") % n
    val thr = (q + 1L) * rem
    val r = col("__off") + col("__lr")
    local.join(broadcast(offs), Seq("__pid"))
      .withColumn(out,
        when(r <= thr, div(r - 1L, q + 1L) + 1L)
          .otherwise(rem + div(r - thr - 1L, greatest(q, lit(1L))) + 1L)
          .cast("int"))
      .drop("__pid", "__lr", "__off", "__n")
  }

  val rfmSegmentsSql: String =
    """WITH anchor AS (
      |  SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
      |rfm AS (
      |  SELECT o_custkey,
      |    date_diff('day', MAX(CAST(o_orderdate AS DATE)),
      |      (SELECT maxd FROM anchor)) AS recency,
      |    COUNT(*) AS frequency,
      |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 4)
      |      AS monetary
      |  FROM orders GROUP BY o_custkey),
      |tiled AS (
      |  SELECT *,
      |    NTILE(10) OVER (ORDER BY recency, o_custkey) AS r_decile,
      |    NTILE(10) OVER (ORDER BY frequency DESC, o_custkey) AS f_decile
      |  FROM rfm)
      |SELECT r_decile, f_decile, COUNT(*) AS n_customers,
      |  ROUND(CAST(SUM(CAST(monetary AS DECIMAL(28,6))) AS DOUBLE)
      |    / COUNT(*), 4) AS avg_monetary
      |FROM tiled GROUP BY r_decile, f_decile
      |ORDER BY r_decile, f_decile""".stripMargin

  /** MAD outlier multiplier (the standard 3×MAD ≈ 2σ-equivalent rule,
    * scale factor folded in). */
  val MadK = 3.0

  /** q132: robust outlier detection — per event_type, median and MAD
    * (median absolute deviation) of `value`, flagging rows beyond
    * [[MadK]]·MAD of the median. MAD tolerates the heavy tails that
    * make mean/stddev rules useless on revenue-like columns (one whale
    * inflates σ until nothing is an outlier).
    *
    * Shape: two grouped exact-percentile aggregates (value, then
    * |value − median| after a broadcast-join of the ≤types-row median
    * table) and one counting pass — three scans of one column,
    * partial-agg all the way; at 100 TB each percentile would run the
    * q101 two-pass selection, same contract. */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val withDev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", round(abs(col("value") - col("med")), 6))
    val mad = withDev.groupBy(col("event_type"))
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    withDev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("adev") > lit(MadK) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("med"), col("mad"), col("n"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n"), 6)
          .as("outlier_rate"))
      .orderBy(col("event_type"))
  }

  val madOutliersSql: String =
    s"""WITH med AS (
      |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, med, ROUND(ABS(value - med), 6) AS adev
      |  FROM events e JOIN med ON e.event_type = med.event_type),
      |mad AS (
      |  SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT dev.event_type, dev.med, mad.mad, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN adev > $MadK * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  ROUND(CAST(SUM(CASE WHEN adev > $MadK * mad THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS outlier_rate
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |GROUP BY dev.event_type, dev.med, mad.mad
      |ORDER BY dev.event_type""".stripMargin

  /** q134: sequential path mining — the top-10 3-step event-type
    * paths users actually walk (each user's event stream ordered by
    * time, consecutive triples counted across all users). The Markov
    * path-analysis behind "where do users go after X" product
    * questions; the reference's dashboard counts are the 1-step
    * degenerate case.
    *
    * Shape: one window pass (two LEADs over one (user, time) sort —
    * same partitioning, one shuffle), then a partial-agg count and a
    * top-10 TakeOrderedAndProject. Path cardinality is bounded by
    * |event_types|³, never by user count. */
  def eventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n_walks"))
      .orderBy(col("n_walks").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  val eventPathsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS step1,
      |    LEAD(event_type, 1) OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS step2,
      |    LEAD(event_type, 2) OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS step3
      |  FROM events)
      |SELECT step1, step2, step3, COUNT(*) AS n_walks
      |FROM seq WHERE step2 IS NOT NULL AND step3 IS NOT NULL
      |GROUP BY step1, step2, step3
      |ORDER BY n_walks DESC, step1, step2, step3 LIMIT 10""".stripMargin
}
