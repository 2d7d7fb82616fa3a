package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 —
  * "Improving the Sensitivity of Online Controlled Experiments") —
  * the covariate-adjustment layer every mature experimentation
  * platform runs on top of the plain test (q220): a user's PRE-period
  * activity predicts their experiment-period activity, so the
  * adjusted metric y* = y − θ(x − x̄) with θ = cov(x, y)/var(x)
  * removes the predictable component, shrinking metric variance by
  * the squared correlation — the same experiment reaches
  * significance with a fraction of the traffic.
  *
  * Setup (key-derived, restated in the oracle): x = a user's
  * purchases in the first [[PrePeriodDays]] days of the corpus, y =
  * purchases after; arm = the q220 parity split. The report publishes
  * raw and adjusted means per arm, θ, the variance-reduction ratio,
  * and BOTH unpooled two-sample z statistics — the "CUPED tightened
  * the test" claim as numbers, not prose.
  *
  * Determinism: x/y are integer counts; θ and x̄ round to 9, so each
  * user's adjusted value is a deterministic double; per-arm means and
  * variances accumulate the adjusted values in DECIMAL; the closed
  * forms combine in double, rounded once. var(x) = 0 ⇒ θ NULL and
  * the adjusted columns go NULL with it (raw stands).
  *
  * Scale shape: ONE events pass to per-user (arm, x, y); θ is a
  * moment fit on that relation (partial-agg'd — q49); the adjusted
  * pass is arithmetic on the same slim relation with the 1-row fit
  * broadcast back. Nothing rescans events.
  */
object Cuped {

  val PrePeriodDays = 15

  /** q222: the CUPED-adjusted A/B report over the parity split. */
  def cupedReport(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val epoch = ev.agg(min(to_date(col("ts"))).as("d0"))
    val users = ev.crossJoin(broadcast(epoch))
      .groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "purchase"
          && to_date(col("ts")) < date_add(col("d0"), PrePeriodDays), 1L)
          .otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase"
          && to_date(col("ts")) >= date_add(col("d0"), PrePeriodDays), 1L)
          .otherwise(0L)).as("y"))
      .select(pmod(col("user_id"), lit(2)).as("arm"), col("x"), col("y"))
    cupedOf(users)
  }

  /** The CUPED report of an (arm ∈ {0,1}, x, y) relation — the
    * adjustment core, exposed for the spec's crafted cohorts. */
  private[graft] def cupedOf(usersIn: DataFrame): DataFrame = {
    val users = usersIn
      .pin() // slim per-user relation feeds fit + report
    def dsum(c: org.apache.spark.sql.Column, scale: Int) =
      sum(c.cast(s"decimal(38,$scale)")).cast("double")
    // pooled θ fit (standard CUPED: one θ across arms). Degeneracy is
    // decided EXACTLY via the covariate's distinct count — a float
    // test of the moment denominator against 0 can be bypassed by
    // catastrophic cancellation once the products pass 2^53
    val fit = users.agg(
      count(lit(1)).cast("double").as("n"),
      countDistinct(col("x")).as("ndx"),
      dsum(col("x"), 0).as("sx"), dsum(col("y"), 0).as("sy"),
      dsum(col("x") * col("y"), 0).as("sxy"),
      dsum(col("x") * col("x"), 0).as("sxx"))
      .select(col("n"),
        round(col("sx") / col("n"), 9).as("mx"),
        when(col("ndx") <= 1, lit(null).cast("double"))
          .otherwise(round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 9))
          .as("theta"))
    val adj = users.crossJoin(broadcast(fit))
      .withColumn("ystar",
        col("y") - col("theta") * (col("x") - col("mx")))
    val cells = adj.groupBy(col("arm")).agg(
      count(lit(1)).cast("double").as("na"),
      dsum(col("y"), 0).as("sya"),
      dsum(col("y") * col("y"), 0).as("syya"),
      dsum(col("ystar"), 12).as("ssa"),
      dsum(col("ystar") * col("ystar"), 12).as("sssa"))
      .withColumn("mean_y", col("sya") / col("na"))
      // a 1-user arm has no sample variance — NULL, never a 0/0
      .withColumn("var_y", when(col("na") > 1.0,
        (col("syya") - col("sya") * col("sya")
          / col("na")) / (col("na") - 1.0)))
      .withColumn("mean_adj", col("ssa") / col("na"))
      .withColumn("var_adj", when(col("na") > 1.0,
        (col("sssa") - col("ssa") * col("ssa")
          / col("na")) / (col("na") - 1.0)))
    // two arms → a 2-row relation pivoted into the 1-row report
    val r = cells.agg(
      sum(when(col("arm") === 0, col("na"))).as("n0"),
      sum(when(col("arm") === 1, col("na"))).as("n1"),
      sum(when(col("arm") === 0, col("mean_y"))).as("my0"),
      sum(when(col("arm") === 1, col("mean_y"))).as("my1"),
      sum(when(col("arm") === 0, col("var_y"))).as("vy0"),
      sum(when(col("arm") === 1, col("var_y"))).as("vy1"),
      sum(when(col("arm") === 0, col("mean_adj"))).as("ma0"),
      sum(when(col("arm") === 1, col("mean_adj"))).as("ma1"),
      sum(when(col("arm") === 0, col("var_adj"))).as("va0"),
      sum(when(col("arm") === 1, col("var_adj"))).as("va1"))
      .crossJoin(broadcast(fit.select(col("theta"))))
    // zero pooled variance ⇒ the test statistic is undefined — NULL
    // in both engines, never an engine-specific Infinity/NaN
    def z(m0: org.apache.spark.sql.Column, m1: org.apache.spark.sql.Column,
        v0: org.apache.spark.sql.Column, v1: org.apache.spark.sql.Column) =
      when(v0 / col("n0") + v1 / col("n1") > 0.0,
        round((m1 - m0) / sqrt(v0 / col("n0") + v1 / col("n1")), 6))
    r.select(
      col("n0").cast("long").as("n0"), col("n1").cast("long").as("n1"),
      round(col("my0"), 6).as("mean_y0"), round(col("my1"), 6).as("mean_y1"),
      col("theta"),
      round(col("ma0"), 6).as("mean_adj0"),
      round(col("ma1"), 6).as("mean_adj1"),
      when(col("vy0") + col("vy1") > 0.0,
        round(lit(1.0) - (col("va0") + col("va1"))
          / (col("vy0") + col("vy1")), 6)).as("var_reduction"),
      z(col("my0"), col("my1"), col("vy0"), col("vy1")).as("z_raw"),
      z(col("ma0"), col("ma1"), col("va0"), col("va1")).as("z_cuped"))
  }

  val cupedReportSql: String =
    s"""WITH epoch AS (SELECT CAST(MIN(ts) AS DATE) AS d0 FROM events),
      |users AS (
      |  SELECT user_id % 2 AS arm,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) < d0 + $PrePeriodDays THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      AND CAST(ts AS DATE) >= d0 + $PrePeriodDays THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events CROSS JOIN epoch GROUP BY user_id),
      |fit AS (
      |  SELECT n, ROUND(sx / n, 9) AS mx,
      |    CASE WHEN ndx <= 1 THEN NULL
      |      ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
      |    END AS theta
      |  FROM (
      |    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |      COUNT(DISTINCT x) AS ndx,
      |      CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |      CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |      CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |      CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      |    FROM users)),
      |adj AS (
      |  SELECT arm, x, y, y - theta * (x - mx) AS ystar
      |  FROM users CROSS JOIN fit),
      |cells AS (
      |  SELECT arm, CAST(COUNT(*) AS DOUBLE) AS na,
      |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sya,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syya,
      |    CAST(SUM(CAST(ystar AS DECIMAL(38,12))) AS DOUBLE) AS ssa,
      |    CAST(SUM(CAST(ystar * ystar AS DECIMAL(38,12))) AS DOUBLE) AS sssa
      |  FROM adj GROUP BY arm),
      |stats AS (
      |  SELECT arm, na, sya / na AS mean_y,
      |    CASE WHEN na > 1.0 THEN
      |      (syya - sya * sya / na) / (na - 1.0) END AS var_y,
      |    ssa / na AS mean_adj,
      |    CASE WHEN na > 1.0 THEN
      |      (sssa - ssa * ssa / na) / (na - 1.0) END AS var_adj
      |  FROM cells),
      |wide AS (
      |  SELECT
      |    SUM(CASE WHEN arm = 0 THEN na END) AS n0,
      |    SUM(CASE WHEN arm = 1 THEN na END) AS n1,
      |    SUM(CASE WHEN arm = 0 THEN mean_y END) AS my0,
      |    SUM(CASE WHEN arm = 1 THEN mean_y END) AS my1,
      |    SUM(CASE WHEN arm = 0 THEN var_y END) AS vy0,
      |    SUM(CASE WHEN arm = 1 THEN var_y END) AS vy1,
      |    SUM(CASE WHEN arm = 0 THEN mean_adj END) AS ma0,
      |    SUM(CASE WHEN arm = 1 THEN mean_adj END) AS ma1,
      |    SUM(CASE WHEN arm = 0 THEN var_adj END) AS va0,
      |    SUM(CASE WHEN arm = 1 THEN var_adj END) AS va1
      |  FROM stats)
      |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      |  ROUND(my0, 6) AS mean_y0, ROUND(my1, 6) AS mean_y1,
      |  (SELECT theta FROM fit) AS theta,
      |  ROUND(ma0, 6) AS mean_adj0, ROUND(ma1, 6) AS mean_adj1,
      |  CASE WHEN vy0 + vy1 > 0.0 THEN
      |    ROUND(1.0 - (va0 + va1) / (vy0 + vy1), 6) END AS var_reduction,
      |  CASE WHEN vy0 / n0 + vy1 / n1 > 0.0 THEN
      |    ROUND((my1 - my0) / sqrt(vy0 / n0 + vy1 / n1), 6) END AS z_raw,
      |  CASE WHEN va0 / n0 + va1 / n1 > 0.0 THEN
      |    ROUND((ma1 - ma0) / sqrt(va0 / n0 + va1 / n1), 6) END AS z_cuped
      |FROM wide""".stripMargin
}
