package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical and windowed analytics: exact percentiles, moving
  * windows, edit-distance similarity, correlation/stddev built from
  * exact component sums (the decimal trick extended to second-order
  * statistics), and value histograms.
  */
object Stats {

  private def dsum(c: Column, scale: Int = 10) =
    sum(c.cast(s"decimal(38,$scale)")).cast("double")

  /** q46: exact linear-interpolation percentiles of event value per
    * type (both engines use the (n-1)·p index formula). */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
      .orderBy(col("event_type"))

  val percentilesSql: String =
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.25), 6) AS p25,
      |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(value, 0.75), 6) AS p75,
      |  ROUND(quantile_cont(value, 0.95), 6) AS p95
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q47: moving-window analytics — per-user 3-row moving average of
    * purchase values and running total, ordered by time. */
  def movingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("user_id") < 10)
    purchases
      .withColumn("running_total",
        round(sum(col("value").cast("decimal(28,10)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"), 2))
      .withColumn("mov_avg3",
        round((sum(col("value").cast("decimal(28,10)"))
            .over(w.rowsBetween(-2, 0)).cast("double")
          / count(lit(1)).over(w.rowsBetween(-2, 0))), 6))
      .select(col("user_id"), col("event_id"), col("value"),
        col("running_total"), col("mov_avg3"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val movingWindowSql: String =
    """SELECT user_id, event_id, value,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10)))
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS running_total,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10)))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3
      |FROM events
      |WHERE event_type = 'purchase' AND user_id < 10
      |ORDER BY user_id, event_id""".stripMargin

  /** q48: fuzzy title matching — part-name pairs within edit distance
    * 2, blocked on (first char, length bucket) so candidates stay
    * bounded (the blocking+verify shape again, now for edit
    * distance). */
  def editDistancePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.part(spark, sfDir).select(col("p_name")).distinct()
    // plant one-char typos (trailing char replaced) so the operator
    // demonstrably finds near-matches; same derivation in the oracle
    val typos = base
      .filter(pmod(length(col("p_name")), lit(3)) === 0)
      .select(concat(substring(col("p_name"), lit(1),
        length(col("p_name")) - 1), lit("x")).as("p_name"))
    val names = base.unionByName(typos).distinct()
      .withColumn("blk", concat(substring(col("p_name"), 1, 1),
        (length(col("p_name")) / 3).cast("int")))
    Blocking.pairs(names, "p_name", "blk")
      .withColumn("dist", levenshtein(col("a_id"), col("b_id")))
      .filter(col("dist") <= 2)
      .select(col("a_id").as("name_a"), col("b_id").as("name_b"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  val editDistancePairsSql: String =
    """WITH base AS (SELECT DISTINCT p_name FROM part),
      |typos AS (
      |  SELECT substr(p_name, 1, length(p_name) - 1) || 'x' AS p_name
      |  FROM base WHERE length(p_name) % 3 = 0),
      |names AS (
      |  SELECT p_name,
      |    substr(p_name, 1, 1) || CAST(length(p_name) // 3 AS VARCHAR) AS blk
      |  FROM (SELECT p_name FROM base UNION SELECT p_name FROM typos))
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  /** q49: correlation + stddev from exact component sums — the
    * decimal-determinism trick extended to second-order moments:
    * Σx, Σy, Σxy, Σx², Σy² accumulate exactly, the closed forms
    * combine in double. */
  def corrStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val agg = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast("double").as("n"),
      dsum(col("l_quantity")).as("sx"),
      dsum(col("l_extendedprice")).as("sy"),
      dsum(col("l_quantity") * col("l_extendedprice"), 6).as("sxy"),
      dsum(col("l_quantity") * col("l_quantity")).as("sxx"),
      dsum(col("l_extendedprice") * col("l_extendedprice"), 4).as("syy"))
    agg.select(col("l_returnflag"),
      col("n").cast("long").as("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy"))
        / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
        .as("corr_qty_price"),
      round(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
        / (col("n") * (col("n") - 1.0))), 6).as("stddev_qty"))
      .orderBy(col("l_returnflag"))
  }

  val corrStatsSql: String =
    """SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  ROUND((n * sxy - sx * sy)
      |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
      |  ROUND(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_qty
      |FROM (
      |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** q50: value histogram — fixed-width bins per event type. */
  def histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("bin", floor(col("value") / 50.0).cast("long"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))

  val histogramSql: String =
    """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  // -----------------------------------------------------------------
  // q101: EXACT discrete quantiles at 100 TB — two-pass bin-and-refine
  // distributed selection. q46's `percentile()` buffers every value of
  // a group in one aggregation state (fine per-group-small, fatal for
  // a billion-row group); this is the scale path: pass 1 histograms
  // each group into 1024 equi-width bins (one scan, partial aggs),
  // a bin-level cumsum (≤1024 rows per group) locates the bin holding
  // rank ⌈q·n⌉, pass 2 rescans ONLY that bin's rows (expected n/1024)
  // and counts up to the residual rank. No global sort, no per-group
  // value buffering; the widest state anywhere is one (group, bin)
  // count. Rank semantics = SQL percentile_disc: smallest value with
  // cum_count ≥ ⌈q·n⌉ — DuckDB's quantile_disc, giving a genuinely
  // independent oracle (different algorithm, same answer).
  // -----------------------------------------------------------------

  val QuantileQs: Seq[Double] = Seq(0.5, 0.9)
  val QuantileBins = 1024

  def quantileDisc(spark: SparkSession, sfDir: String): DataFrame =
    quantileDiscOf(
      Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
      QuantileQs)

  /** The two-pass selection core over any `(g, v)` relation — also
    * the threshold engine for q231's curriculum phase boundaries.
    * Returns `(g, q, n, value)` with percentile_disc rank semantics. */
  def quantileDiscOf(rows: DataFrame, qs: Seq[Double]): DataFrame = {
    val gstats = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
    // equi-width bin id; the bin math is internal (only the final
    // selected VALUE must match the oracle), so double arithmetic is
    // safe here in a way it wouldn't be in the output
    def binOf = when(col("hi") === col("lo"), lit(0L)).otherwise(
      least(floor((col("v") - col("lo")) / (col("hi") - col("lo"))
        * QuantileBins).cast("long"), lit(QuantileBins - 1L)))
    val binned = rows.join(broadcast(gstats), Seq("g"))
      .withColumn("bin", binOf)
      .select(col("g"), col("v"), col("bin"))
    // pass 1: per-(group, bin) counts, cumsum over the tiny bin axis
    val wBin = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = binned.groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wBin))
    // targets: rank ⌈q·n⌉ per (group, quantile)
    val targets = gstats
      .select(col("g"), col("n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("r", ceil(col("q") * col("n").cast("double")).cast("long"))
    // the bin holding rank r: minimal bin with cum ≥ r
    val tbin = targets.join(hist, Seq("g"))
      .filter(col("cum") >= col("r"))
      .groupBy(col("g"), col("q"), col("n"), col("r"))
      .agg(min_by(struct(col("bin"), (col("cum") - col("cnt")).as("before")),
        col("bin")).as("tb"))
      .select(col("g"), col("q"), col("n"),
        col("tb.bin").as("bin"), (col("r") - col("tb.before")).as("rem"))
    // pass 2: rescan only target-bin rows, residual-rank select over
    // the bin's distinct values
    val wV = Window.partitionBy(col("g"), col("q")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned.join(broadcast(tbin), Seq("g", "bin"))
      .groupBy(col("g"), col("q"), col("n"), col("rem"), col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cumv", sum(col("c")).over(wV))
      .filter(col("cumv") >= col("rem") && col("cumv") - col("c") < col("rem"))
      .select(col("g"), col("q"), col("n"), col("v").as("value"))
      .orderBy(col("g"), col("q"))
  }

  val quantileDiscSql: String = {
    val arms = QuantileQs.map(q =>
      s"""SELECT l_returnflag AS g, CAST($q AS DOUBLE) AS q, COUNT(*) AS n,
         |  quantile_disc(l_extendedprice, $q) AS value
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    arms.mkString("", "\nUNION ALL\n", "\nORDER BY g, q")
  }
}
