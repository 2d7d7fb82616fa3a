package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q224: the checkpoint-broadcast guard as a PLAN CONTRACT — the
  * q192-family treatment (runtime plan assertions inside a declared,
  * oracle-checked query) applied to the r11 audit's mechanism.
  *
  * The mechanism (PERF.md r11): a pinned LogicalRDD
  * inherits its ORIGIN plan's estimated statistics, which badly
  * under-report exploded relations — here the (doc_id, token)
  * relation estimates far below `autoBroadcastJoinThreshold` even
  * though it is the widest relation in the query — so the static
  * planner picks BroadcastHashJoin over a CORPUS-PROPORTIONAL side,
  * and AQE cannot demote it because the build side feeds the join
  * with no materialized shuffle stage to re-measure. At 100 TB that
  * plan collects the corpus through the driver or dies at the 8 GiB
  * broadcast cap (measured: q27's wider-band geometry did exactly
  * that). 15 queries carried the trap; merge hints fixed them; this
  * query pins BOTH halves so a regression — in our code OR in a
  * Spark upgrade's estimation behavior — fails loudly at the
  * correctness gate, not in a probe three rounds later:
  *
  *   1. the UNHINTED twin of the join must still PLAN as a broadcast
  *      of the checkpoint (the disease is present in this engine
  *      build — if a Spark upgrade ever fixes LogicalRDD stats, this
  *      require fires and the guard convention gets re-audited);
  *   2. the GUARDED join (merge hint, the audited fix) must execute
  *      with a SortMergeJoin and no broadcast anywhere in its plan.
  *
  * The returned rows are a plain token-df rollup — join strategy is
  * a pure physical choice, so the DuckDB oracle is the same rollup
  * with no plan opinion. */
object CheckpointJoin {

  def checkpointJoinGuard(spark: SparkSession, sfDir: String): DataFrame = {
    // the canonical bug shape: corpus-proportional checkpoint (the
    // exploded token relation), joined back to an aggregate of itself
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .pin()
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    def rollup(joined: DataFrame): DataFrame = joined
      .groupBy(pmod(col("doc_id"), lit(8)).as("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("df").cast("decimal(28,0)")).cast("double")
          / count(lit(1)), 6).as("avg_df"))
      .orderBy(col("bucket"))
    // (1) the disease pin: the unhinted twin still PLANS the
    // checkpoint side as a broadcast build (never executed — the
    // assertion reads the static plan only). The tripwire is only a
    // HARD failure under the canonical engine conf it was calibrated
    // against (broadcast planning enabled at a positive threshold, on
    // the Spark line the audit ran on); under a session that disables
    // auto-broadcast, or a future Spark whose LogicalRDD stats are
    // fixed, the data answer is unchanged — so the gate logs the
    // re-audit demand instead of failing a correct query (ADVICE
    // r11: a conf difference must not fail the data-correctness
    // gate). Assertion (2) below stays unconditional: it pins OUR
    // hint's behavior, which no conf excuses.
    val unhinted = rollup(toks.join(dfreq, Seq("tok")))
    val staticPlan = unhinted.queryExecution.executedPlan.toString
    // "broadcast planning enabled" must be judged on the PARSED value
    // — the conf accepts any byte-string rendering ("-1", "-1b", "0",
    // "0b" all disable it), and a string-equality test would hard-fail
    // a data-correct query under a disabled-but-differently-spelled
    // conf (the exact false failure this gate exists to prevent)
    val thr = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim.toLowerCase
    val broadcastOn = !thr.startsWith("-") && !thr.matches("0+[kmgt]?i?b?")
    val canonicalConf = broadcastOn && spark.version.startsWith("4.")
    if (!staticPlan.contains("BroadcastHashJoin")) {
      val msg = "q224 tripwire: the stats-blind checkpoint no longer " +
        "baits a static broadcast — the engine's estimation behavior " +
        "changed; re-audit the merge-hint convention (PERF.md r11)"
      require(!canonicalConf, s"$msg:\n$staticPlan")
      System.err.println(s"[q224] $msg (non-canonical conf — warning only)")
    }
    // (2) the guarded shape: merge hint, executed, no broadcast
    val guarded = rollup(toks.hint("merge").join(dfreq, Seq("tok")))
    val out = guarded.pin()
    val plan = guarded.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin"),
      s"guarded join must execute as a partitioned merge join:\n$plan")
    require(!plan.contains("BroadcastHashJoin"),
      "guarded join must not broadcast the corpus-proportional " +
        s"checkpoint:\n$plan")
    out
  }

  val checkpointJoinGuardSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH toks AS (
      |  SELECT doc_id, unnest($tokSql) AS tok FROM documents),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
      |SELECT t.doc_id % 8 AS bucket, COUNT(*) AS n_tokens,
      |  ROUND(CAST(SUM(CAST(d.df AS DECIMAL(28,0))) AS DOUBLE)
      |    / COUNT(*), 6) AS avg_df
      |FROM toks t JOIN dfreq d ON t.tok = d.tok
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin
  }
}
