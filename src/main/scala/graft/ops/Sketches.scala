package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators — the probabilistic toolbox a 100 TB
  * pipeline runs BEFORE exact algorithms become affordable: a Bloom
  * filter for semi-join reduction, HyperLogLog for distinct counts,
  * and count-min for heavy hitters. All three are determinized on the
  * engine's md5 hash rule ([[TextOps.hash60]]) so the DuckDB oracle
  * replays them bit-for-bit, and all three aggregate map-side into
  * fixed-size state (512 / 1024 / 4096 integers) — the mergeability
  * that makes them shuffle-free at any scale.
  *
  * Determinism notes: every floating-point step is either exact
  * integer arithmetic cast late to double (register sums are
  * Σ 2^(50-M) as BIGINT — dyadic doubles would round
  * order-dependently), a literal interpolated into both engines, or
  * a transcendental rounded to 9 decimals.
  */
object Sketches {

  // ---- q88: Bloom-filter semi-join reduction -------------------

  val BloomBits = 16384 // 2^14
  val BloomK = 4
  val PurchaseMin = 18

  private def bloomPos(j: Int, key: Column): Column =
    TextOps.hash60(concat(lit(s"bf${j}_"), key)).bitwiseAND(lit((BloomBits - 1).toLong))

  /** The flagged key set: users with ≥ [[PurchaseMin]] purchase
    * events — a content-derived ~10% selection at every SF. */
  private def flaggedUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= PurchaseMin)
      .select(col("user_id"))

  /** Build a [[BloomBits]]-bit / [[BloomK]]-hash Bloom filter over
    * the flagged users, probe every distinct user through the
    * broadcast 2 KB sketch, and report the reduction quality: false
    * positives are the sketch's documented cost; false negatives are
    * structurally impossible (the oracle proves 0).
    *
    * Scale shape: the build shuffles only (word, mask) pairs that
    * BIT_OR-combine map-side into ≤ 512 words; the probe side
    * touches each key once against the broadcast sketch — the
    * semi-join-reduction pattern that skips shuffling a 100 TB fact
    * table to join a small dim. */
  def bloomSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val flagged = flaggedUsers(spark, sfDir).pin()
    val positions = flagged.select(explode(array(
      (0 until BloomK).map(j => bloomPos(j, col("user_id"))): _*)).as("pos"))
    val bloom = positions
      .select(shiftrightunsigned(col("pos"), 5).as("word"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
    val users = Tables.events(spark, sfDir).select(col("user_id")).distinct()
    val probes = users.select(col("user_id"), posexplode(array(
        (0 until BloomK).map(j => bloomPos(j, col("user_id"))): _*)))
      .toDF("user_id", "j", "pos")
      .select(col("user_id"),
        shiftrightunsigned(col("pos"), 5).as("word"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
    val passed = probes.join(broadcast(bloom), Seq("word"), "left")
      .withColumn("hit",
        col("bits").isNotNull && col("bits").bitwiseAND(col("mask")) =!= 0)
      .groupBy(col("user_id"))
      .agg(sum(when(col("hit"), 1).otherwise(0)).as("hits"))
      .withColumn("pass", col("hits") === BloomK)
    // explicit broadcast: the flagged set is bounded by the sketch's
    // own capacity assumption (the bloom is sized for it) — document
    // that instead of leaning on the checkpoint's stats-blind
    // estimate (PERF.md r11 audit)
    passed.join(broadcast(flagged.withColumn("flagged", lit(true))),
        Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_bloom_pass"),
        sum(when(col("pass") && col("flagged").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("pass") && col("flagged"), 1L).otherwise(0L))
          .as("n_false_neg"))
      .withColumn("fp_rate", round(col("n_false_pos").cast("double")
        / (col("n_users") - col("n_flagged")), 6))
  }

  private def bloomPosSql(j: Int, key: String): String =
    s"(('0x' || substr(md5('bf${j}_' || $key), 1, 15))::BIGINT & ${BloomBits - 1})"

  val bloomSemiJoinSql: String = {
    val buildPos = (0 until BloomK).map(j => bloomPosSql(j, "user_id"))
      .mkString("[", ", ", "]")
    s"""WITH flagged AS (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id HAVING COUNT(*) >= $PurchaseMin),
      |positions AS (
      |  SELECT unnest($buildPos) AS pos FROM flagged),
      |bloom AS (
      |  SELECT pos >> 5 AS word, BIT_OR(1::BIGINT << (pos % 32)) AS bits
      |  FROM positions GROUP BY pos >> 5),
      |users AS (SELECT DISTINCT user_id FROM events),
      |probes AS (
      |  SELECT user_id, pos >> 5 AS word, 1::BIGINT << (pos % 32) AS mask
      |  FROM (SELECT user_id, unnest($buildPos) AS pos FROM users)),
      |passed AS (
      |  SELECT p.user_id,
      |    SUM(CASE WHEN b.bits IS NOT NULL AND (b.bits & p.mask) != 0
      |        THEN 1 ELSE 0 END) = $BloomK AS pass
      |  FROM probes p LEFT JOIN bloom b USING (word)
      |  GROUP BY p.user_id)
      |SELECT COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN f.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
      |  CAST(SUM(CASE WHEN pass AND f.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
      |  CAST(SUM(CASE WHEN NOT pass AND f.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
      |  ROUND(CAST(SUM(CASE WHEN pass AND f.user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / (COUNT(*) - SUM(CASE WHEN f.user_id IS NOT NULL THEN 1 ELSE 0 END)), 6) AS fp_rate
      |FROM passed p LEFT JOIN flagged f USING (user_id)""".stripMargin
  }

  // ---- q89: HyperLogLog distinct estimate ----------------------

  val HllP = 10
  val HllM = 1 << HllP // 1024 registers

  /** alpha_m · m² · 2^51 — the full numerator as ONE double literal
    * computed here and interpolated verbatim into the oracle SQL, so
    * both engines divide the identical constant by the identical
    * integer register sum. The 2^51 scale matches the register terms
    * Σ 2^(51−M): rank reaches 51 on an all-zero 50-bit suffix, and
    * 51−M keeps every term an exact nonneg-shift BIGINT
    * (1024·2^51 = 2^61 < 2^63). */
  val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM * (1L << 51).toDouble

  /** HLL over distinct user_ids: md5-hash each key to 60 bits, low
    * [[HllP]] bits pick the register, the rank is the leading-zero
    * count of the remaining 50-bit suffix (via `length(bin(w))` —
    * exact integer string math, no floating log2). Register sums use
    * Σ 2^(50−M) as exact BIGINTs. Small-range correction (linear
    * counting, E ≤ 2.5m with empty registers) applies at these SFs;
    * its one transcendental rounds to 9.
    *
    * Scale shape: the sketch is 1024 small integers with a MAX
    * combiner — partial-aggregates map-side, merges associatively
    * across any number of partitions/days — the mergeable
    * distinct-count everybody runs on event streams. */
  /** The 1024-register sketch of a (user_id) relation — (reg, m)
    * rows. MAX-combining two sketches of disjoint slices yields
    * exactly the sketch of their union (the mergeability the spec
    * pins). */
  private[graft] def hllRegisters(keys: DataFrame): DataFrame = {
    val h = TextOps.hash60(concat(lit("hll_"), col("user_id")))
    keys
      .select(h.bitwiseAND(lit((HllM - 1).toLong)).as("reg"),
        shiftrightunsigned(h, HllP).as("w"))
      .withColumn("rank",
        when(col("w") === 0, lit(51))
          .otherwise(lit(51) - length(bin(col("w")))))
      .groupBy(col("reg")).agg(max(col("rank")).as("m"))
  }

  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val regs = hllRegisters(Tables.events(spark, sfDir))
    val allRegs = spark.range(HllM).select(col("id").as("reg"))
      .join(regs, Seq("reg"), "left")
      .withColumn("m", coalesce(col("m"), lit(0)))
    val stats = allRegs.agg(
      sum(expr("shiftleft(1L, cast(51 - m as int))")).as("s"),
      sum(when(col("m") === 0, 1).otherwise(0)).as("v"))
    val exact = Tables.events(spark, sfDir)
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    stats.crossJoin(exact)
      .withColumn("raw_est", round(lit(HllNumerator) / col("s"), 2))
      .withColumn("est", round(
        when(col("raw_est") <= 2.5 * HllM && col("v") > 0,
          lit(HllM.toDouble) * round(log(lit(HllM.toDouble) / col("v")), 9))
          .otherwise(col("raw_est")), 2))
      .withColumn("rel_err", round(
        abs(col("est") - col("exact_distinct")) / col("exact_distinct"), 4))
      .select(col("exact_distinct"), col("v").as("empty_registers"),
        col("raw_est"), col("est"), col("rel_err"))
  }

  val hllDistinctSql: String =
    s"""WITH h AS (
      |  SELECT ('0x' || substr(md5('hll_' || user_id), 1, 15))::BIGINT AS h
      |  FROM events),
      |ranks AS (
      |  SELECT h & ${HllM - 1} AS reg,
      |    CASE WHEN (h >> $HllP) = 0 THEN 51
      |         ELSE 51 - length(bin(h >> $HllP)) END AS rank
      |  FROM h),
      |regs AS (SELECT reg, MAX(rank) AS m FROM ranks GROUP BY reg),
      |allregs AS (
      |  SELECT t.reg, COALESCE(r.m, 0) AS m
      |  FROM generate_series(0, ${HllM - 1}) AS t(reg)
      |  LEFT JOIN regs r USING (reg)),
      |stats AS (
      |  SELECT SUM(1::BIGINT << (51 - m)) AS s,
      |    SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
      |  FROM allregs),
      |e AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events),
      |est AS (
      |  SELECT exact_distinct, v,
      |    ROUND($HllNumerator / s, 2) AS raw_est,
      |    ROUND(CASE WHEN ROUND($HllNumerator / s, 2) <= ${2.5 * HllM} AND v > 0
      |          THEN ${HllM.toDouble} * ROUND(ln(${HllM.toDouble} / v), 9)
      |          ELSE ROUND($HllNumerator / s, 2) END, 2) AS est
      |  FROM stats CROSS JOIN e)
      |SELECT exact_distinct, CAST(v AS BIGINT) AS empty_registers, raw_est, est,
      |  ROUND(abs(est - exact_distinct) / exact_distinct, 4) AS rel_err
      |FROM est""".stripMargin

  // ---- q90: count-min heavy hitters ----------------------------

  val CmDepth = 4
  val CmWidth = 1024

  private def cmPos(j: Int, key: Column): Column =
    TextOps.hash60(concat(lit(s"cm${j}_"), key)).bitwiseAND(lit((CmWidth - 1).toLong))

  /** Count-min sketch over the corpus token stream (d=4 × w=1024
    * counters, mergeable partial-agg state) queried for the exact
    * top-10 tokens: estimate = min over rows of the hashed counter,
    * which can only OVERcount (the spec and oracle check est ≥ exact
    * per token). The frequency table a streaming pipeline keeps when
    * the true vocabulary is too big to hold. */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .pin()
    val sketch = toks
      .select(posexplode(array((0 until CmDepth).map(j =>
        cmPos(j, col("tok"))): _*)))
      .toDF("j", "pos")
      .groupBy(col("j"), col("pos")).agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(10)
    top.select(col("tok"), col("exact_cnt"),
        posexplode(array((0 until CmDepth).map(j => cmPos(j, col("tok"))): _*)))
      .toDF("tok", "exact_cnt", "j", "pos")
      .join(broadcast(sketch), Seq("j", "pos"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  val cmsHeavyHittersSql: String = {
    val tokSql = TextOps.tokSql()
    def posSql(j: Int) =
      s"(('0x' || substr(md5('cm${j}_' || tok), 1, 15))::BIGINT & ${CmWidth - 1})"
    val posList = (0 until CmDepth).map(posSql).mkString("[", ", ", "]")
    s"""WITH toks AS (
      |  SELECT unnest($tokSql) AS tok FROM documents),
      |hashed AS (
      |  SELECT j - 1 AS j, p[j] AS pos FROM
      |    (SELECT $posList AS p FROM toks)
      |  CROSS JOIN LATERAL unnest(generate_series(1, $CmDepth)) AS t(j)),
      |sketch AS (
      |  SELECT j, pos, COUNT(*) AS cnt FROM hashed GROUP BY j, pos),
      |top AS (
      |  SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
      |  ORDER BY exact_cnt DESC, tok LIMIT 10),
      |probes AS (
      |  SELECT tok, exact_cnt, j - 1 AS j, p[j] AS pos FROM
      |    (SELECT tok, exact_cnt, $posList AS p FROM top)
      |  CROSS JOIN LATERAL unnest(generate_series(1, $CmDepth)) AS t(j))
      |SELECT p.tok, p.exact_cnt, MIN(s.cnt) AS cms_est,
      |  MIN(s.cnt) - p.exact_cnt AS overcount
      |FROM probes p JOIN sketch s USING (j, pos)
      |GROUP BY p.tok, p.exact_cnt
      |ORDER BY exact_cnt DESC, tok""".stripMargin
  }
}
