package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over the near-dup pair graph — dedup's last
  * mile: pairs are not enough, the pipeline needs dup GROUPS with one
  * canonical representative each (keep min-id, drop the rest).
  *
  * PRODUCTION ALGORITHM (what every declared query — q53, q145,
  * q147 — runs since r10): large-star/small-star alternation
  * (Kiveris et al. 2014), O(log² n) rounds regardless of component
  * diameter, every step a partial-agg shuffle on node id — the CC
  * shape that holds at 100 TB. The min-label propagation loop
  * ([[minLabelLoop]]) is retained SPEC-ONLY as the independent
  * cross-check: it is simpler but diameter-bounded (the label walks
  * one hop per round), so it was demoted from the declared set
  * (VERDICT r9 #5). Both are capped past their fixpoint so a fixed
  * SQL unroll can serve as the oracle; q53 deliberately keeps the
  * UNROLLED MIN-LABEL oracle against the star implementation —
  * cross-algorithm, cross-engine certification of the same answer.
  */
object Components {

  val Rounds = 6

  /** Size-conditional pin: coalesce(1) ONLY when the pair set is
    * small ([[Materialize.Sizing]]), so the downstream loop runs
    * single-task with no exchange; otherwise keep the shuffle
    * partitioning. The row count that picks the branch rides the SAME
    * job that materializes the checkpoint (an `observe` CollectMetrics
    * node — codegen-safe pass-through), so the pin decision costs zero
    * extra passes over the suite's hottest shared subtree (feeds
    * q53/q145/q147). The large branch returns the first checkpoint
    * as-is (no re-pass); only the small branch pays a second
    * (metadata-scale, cached-block-read) checkpoint to land on one
    * partition, and releases the first. Exposed for the plan spec. */
  private[graft] def pinPairs(pairs: DataFrame): DataFrame = {
    val (ck, sizing) = Materialize.pinSized(pairs)
    sizing.compact(ck)
  }

  /** Canonical (a < b) near-dup pairs, materialized once — shared by
    * the min-label loop (q53) and large-star/small-star (q145).
    * [[pinPairs]] owns the (single) materialization. UNSORTED source:
    * edges don't need q23's deterministic order, and materializing
    * through the global sort would re-execute the verification join
    * in the range partitioner's sampling pass (~2× the pipeline —
    * measured 10-14 s vs ~4 s at sf0.1). */
  private[graft] def pairTable(spark: SparkSession, sfDir: String): DataFrame = {
    val t0 = System.nanoTime()
    val pairs = pinPairs(
      Dedup.jaccardPairsUnsorted(spark, sfDir)
        .select(col("a_id"), col("b_id")))
    System.err.println(
      f"[cc] pairs materialized in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    pairs
  }

  /** Undirected edge list from the exact Jaccard near-dup pairs.
    *
    * The pair pipeline (the full q23 plan: shingling, inverted index,
    * prefix-filtered self-join, exact verification, global sort) is
    * materialized EXACTLY ONCE by an eager pin BEFORE the
    * symmetric union. The previous version unioned two references to
    * the lazy plan under a lazy `.cache()`, so the first loop action
    * could pay the pipeline (and the sort's range-sampling pass) per
    * branch — the r5 q53 pathology (72-216 s solo vs 9.5 s for q23).
    * The pair set itself is tiny (~10³ rows at sf0.1), so after the
    * checkpoint everything downstream is metadata-scale work.
    */
  private[graft] def edges(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = pairTable(spark, sfDir)
    pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
  }

  /** Min-label propagation over a symmetric (src, dst) edge relation,
    * capped at `rounds` with early exit on convergence. Returns the
    * final (node, lbl) table.
    *
    * CONVERGENCE BOUND: the minimum label travels one hop per round,
    * so the result is true connected components only when every
    * component's diameter is ≤ `rounds`. A deeper graph returns the
    * partial labels after `rounds` hops — by design: q53's oracle
    * unrolls exactly the same rounds, so both engines agree
    * round-for-round, but the ANSWER is "connected components" only
    * for shallow graphs (near-dup graphs are: a dup cluster is a
    * quasi-clique, diameter 1-2). [[dedupGroupsStar]] (q145) is the
    * production CC — O(log² n) rounds regardless of diameter. */
  private[graft] def minLabelLoop(es: DataFrame, rounds: Int): DataFrame = {
    // a small label table (the usual case — only dup-pair ENDPOINTS
    // carry labels) runs the loop with broadcast joins and 1-partition
    // checkpoints, the same fixed-cost cut as the PageRank loop; a
    // huge one keeps the shuffle path. As in [[pinPairs]], the row
    // count rides the checkpoint job via an observe metric — no
    // separate count() action.
    val (labels0, sizing) = Materialize.pinSized(
      es.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")))
    var labels = labels0
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      val t0 = System.nanoTime()
      val neighborMin = es.join(sizing.side(labels),
          col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val next = sizing.advance(labels, labels
        .join(sizing.side(neighborMin), col("node") === col("src"), "left")
        .select(col("node"), col("lbl").as("old_lbl"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      converged = next.filter(col("lbl") < col("old_lbl")).isEmpty
      labels = next.select(col("node"), col("lbl"))
      round += 1
      System.err.println(
        f"[q53] round $round: ${(System.nanoTime() - t0) / 1e9}%.2fs" +
          (if (converged) " (converged)" else ""))
    }
    if (!converged) System.err.println(
      s"[q53] WARNING: min-label loop hit the $rounds-round cap without " +
        "converging — labels are partial (component diameter > cap). " +
        "Use dedupGroupsStar (q145) for deep graphs.")
    labels
  }

  /** q53: dup-group summary — component count, size distribution,
    * canonical-id checksum — computed by the PRODUCTION CC path
    * (large-star/small-star via [[starLabels]]; r10, VERDICT r9 #5:
    * the declared CC query must be the algorithm you'd run at 100 TB,
    * not the diameter-bounded min-label loop). The oracle stays the
    * UNROLLED MIN-LABEL SQL ([[dedupGroupsSql]]) — a fundamentally
    * different algorithm in a different engine certifying the same
    * answer, which is a STRONGER check than re-deriving star-CC in
    * SQL (q145 does that); both agree because near-dup graphs
    * converge well inside both round caps. [[dedupGroupsMinLabel]]
    * keeps the min-label implementation alive for the spec-level
    * cross-algorithm equivalence proof (DedupSpec). */
  def dedupGroups(spark: SparkSession, sfDir: String): DataFrame =
    groupSummary(starLabels(spark, sfDir))

  /** Spec-only (r10): the min-label implementation q53 used to run —
    * demoted from the declared set because its convergence is
    * diameter-bounded; see [[minLabelLoop]]. DedupSpec asserts its
    * summary equals the star path's. */
  private[graft] def dedupGroupsMinLabel(
      spark: SparkSession, sfDir: String): DataFrame =
    groupSummary(minLabelLoop(edges(spark, sfDir), Rounds))

  /** Shared (node, lbl) → size-distribution summary. */
  private def groupSummary(labels: DataFrame): DataFrame =
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(
        count(lit(1)).as("n_groups"),
        sum(col("lbl")).as("canonical_sum"))
      .orderBy(col("sz"))

  // ---- q145: large-star / small-star connected components ----------

  /** Alternation rounds (one round = large-star + small-star). The
    * algorithm converges in O(log² n) rounds (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", Thm 4.2) and
    * both operators are idempotent on the converged star graph, so a
    * fixed unroll past the fixpoint is a no-op — the same
    * oracle-parity trick as [[Rounds]]. */
  val StarRounds = 4

  /** One large-star + small-star alternation over a canonical (a, b)
    * edge relation, as plain relational algebra (groupBy min + join
    * back — NO driver-side state, no broadcast requirement):
    *
    *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) ∀ v ∈ Γ(u), v > u
    *   small-star(u): over edges oriented big→small, m = min(Γ(u) ∪ {u});
    *                  emit (v, m) ∀ v ∈ Γ(u) \ {m}, plus (u, m)
    *
    * This is the CC shape that holds at 100 TB: every step is a
    * partial-agg shuffle on node id — no component ever has to fit
    * anywhere, no label table is broadcast, and skew on hub nodes is
    * exactly what large-star is designed to shatter. */
  private def starRound(edges: DataFrame): DataFrame = {
    // large-star over the symmetric view
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val lsMin = sym.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("m"))
    val ls = sym.join(lsMin, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .distinct()
    // small-star over big→small orientation
    val oriented = ls.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v"))
    val ssMin = oriented.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("m"))
    val leaf = oriented.join(ssMin, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
    val self = ssMin.select(col("u").as("a"), col("m").as("b"))
    leaf.unionByName(self).distinct()
  }

  /** Large-star/small-star alternation over a canonical (a, b) edge
    * relation, capped at `rounds` with early exit on the fixpoint.
    * Returns the converged star edge set (node → component min).
    *
    * Fixpoint probe: both inputs are sets (starRound ends in
    * .distinct(); the pair table is canonical a < b), so
    * `next == es  ⟺  |next| = |es| ∧ |next ∪ es| = |es|` — one count
    * on the freshly checkpointed set (metadata-cheap) plus ONE
    * union+distinct shuffle, replacing the old double-`exceptAll`
    * (two shuffle-backed actions per round). The previous round's
    * count is carried forward so each round pays exactly one extra
    * shuffle job for the probe. */
  private[graft] def starLoop(edges0: DataFrame, rounds: Int): DataFrame = {
    // row counts ride the pin jobs (pinCounted): the separate count()
    // actions were one extra job per round on metadata-scale data
    var (es, nEs) = Materialize.pinCounted(edges0)
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      val t0 = System.nanoTime()
      val (next, nNext) = Materialize.pinCounted(starRound(es))
      // round 1 can only be a fixpoint if the input already was one —
      // skip its probe shuffle (idempotence makes the extra round in
      // that rare case harmless)
      converged = round > 0 && nNext == nEs &&
        next.unionByName(es).distinct().count() == nEs
      Materialize.release(es) // the probe has read both rounds
      es = next
      nEs = nNext
      round += 1
      System.err.println(
        f"[q145] star round $round: ${(System.nanoTime() - t0) / 1e9}%.2fs" +
          (if (converged) " (converged)" else ""))
    }
    if (!converged) System.err.println(
      s"[q145] WARNING: star loop hit the $rounds-round cap without " +
        "reaching the fixpoint — component labels may be non-final. " +
        "Raise StarRounds (convergence is O(log² n) rounds).")
    es
  }

  /** q145: the q53 dup-group summary via large-star/small-star —
    * identical output through a fundamentally different (and
    * scale-native) algorithm. The per-round pin cuts the
    * doubling lineage; convergence is detected on the materialized
    * edge set (star edges stable), capped at [[StarRounds]]. */
  def dedupGroupsStar(spark: SparkSession, sfDir: String): DataFrame =
    groupSummary(starLabels(spark, sfDir))

  /** (node, lbl) labels from the converged star forest — the
    * production CC labels shared by q53/q145/q147. Star edges are
    * (node → component min); roots label themselves via the b-side
    * union. */
  private[graft] def starLabels(
      spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = pairTable(spark, sfDir)
    val es = starLoop(
      pairs.select(col("a_id").as("a"), col("b_id").as("b")), StarRounds)
    Materialize.release(pairs) // the loop's first round pinned its own copy
    es.select(col("a").as("node"), col("b").as("lbl"))
      .unionByName(es.select(col("b").as("node"), col("b").as("lbl")))
      .distinct()
  }

  val dedupGroupsStarSql: String = {
    // every CTE that is referenced more than once is MATERIALIZED —
    // DuckDB inlines CTEs by default, and the per-round double/triple
    // references would otherwise expand the whole upstream pair
    // pipeline exponentially across the unrolled rounds
    def round(i: Int): String = {
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""sym$i AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM $prev
         |  UNION ALL SELECT b AS u, a AS v FROM $prev),
         |lsm$i AS MATERIALIZED (
         |  SELECT u, LEAST(MIN(v), u) AS m FROM sym$i GROUP BY u),
         |ls$i AS MATERIALIZED (
         |  SELECT DISTINCT s.v AS a, m.m AS b
         |  FROM sym$i s JOIN lsm$i m USING (u) WHERE s.v > s.u),
         |ori$i AS MATERIALIZED (
         |  SELECT GREATEST(a, b) AS u, LEAST(a, b) AS v
         |  FROM ls$i WHERE a <> b),
         |ssm$i AS MATERIALIZED (
         |  SELECT u, LEAST(MIN(v), u) AS m FROM ori$i GROUP BY u),
         |e$i AS MATERIALIZED (
         |  SELECT o.v AS a, m.m AS b
         |  FROM ori$i o JOIN ssm$i m USING (u) WHERE o.v <> m.m
         |  UNION
         |  SELECT u AS a, m AS b FROM ssm$i)""".stripMargin
    }
    val rounds = (1 to StarRounds).map(round).mkString(",\n")
    val pairSource = Dedup.jaccardPairsSql
      .replace("ORDER BY a_id, b_id", "")
    s"""WITH pairs AS MATERIALIZED ($pairSource),
      |e0 AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM pairs),
      |$rounds,
      |labels AS (
      |  SELECT DISTINCT node, lbl FROM (
      |    SELECT a AS node, b AS lbl FROM e$StarRounds
      |    UNION ALL SELECT b AS node, b AS lbl FROM e$StarRounds))
      |SELECT sz, COUNT(*) AS n_groups, CAST(SUM(lbl) AS BIGINT) AS canonical_sum
      |FROM (SELECT lbl, COUNT(*) AS sz FROM labels GROUP BY lbl)
      |GROUP BY sz ORDER BY sz""".stripMargin
  }

  /** q147: canonical selection per near-dup cluster — the step that
    * turns dup GROUPS into a curation DECISION: within each connected
    * component of the near-dup graph, keep the highest-quality member
    * (the [[Curation.scoreDocs]] classifier score; ties → lowest
    * doc_id via the q130 packed-key trick) and ledger the rest.
    * Min-id canonicalization (what q53 labels give) throws away the
    * best copy whenever quality and id disagree; real pipelines keep
    * the best, not the first.
    *
    * Scale shape: the label table holds dup-graph ENDPOINTS only
    * (clusters, not the corpus); scores join on doc_id (one shuffle),
    * and the per-cluster argmax is a packed-key MAX_BY partial agg —
    * no window, no sort, no text movement. */
  def canonicalKeep(spark: SparkSession, sfDir: String): DataFrame = {
    // production CC labels (r10 — was minLabelLoop; answers agree on
    // converged graphs, and the spec replays via min-label to prove it)
    val labels = starLabels(spark, sfDir)
    val scored = Curation.scoreDocs(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("score"))
    labels.join(scored, labels("node") === scored("doc_id"))
      .withColumn("ord_key",
        round(col("score") * 1e6, 0) * lit(1e7) - col("node"))
      .groupBy(col("lbl")).agg(
        count(lit(1)).as("sz"),
        max_by(col("node"), col("ord_key")).as("keep_doc"),
        max(col("score")).as("best_score"),
        sum(col("node")).as("node_sum"))
      .select(col("lbl"), col("sz"), col("keep_doc"), col("best_score"),
        (col("sz") - 1).as("n_removed"),
        (col("node_sum") - col("keep_doc")).as("removed_checksum"))
      .orderBy(col("lbl"))
  }

  val canonicalKeepSql: String = {
    val rounds = (1 to Rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node,
         |    LEAST(l.lbl, COALESCE(MIN(nb.lbl), l.lbl)) AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN edges e ON e.src = l.node
         |  LEFT JOIN l${i - 1} nb ON nb.node = e.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    val pairSource = Dedup.jaccardPairsSql
      .replace("ORDER BY a_id, b_id", "")
    s"""WITH pairs AS MATERIALIZED ($pairSource),
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
      |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      |$rounds,
      |${Curation.scoreCtesSql},
      |j AS (
      |  SELECT lab.lbl, lab.node, s.score,
      |    ROUND(s.score * 1e6, 0) * 1e7 - lab.node AS ord_key
      |  FROM l$Rounds lab JOIN s ON s.doc_id = lab.node)
      |SELECT lbl, COUNT(*) AS sz, arg_max(node, ord_key) AS keep_doc,
      |  MAX(score) AS best_score,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS n_removed,
      |  CAST(SUM(node) - arg_max(node, ord_key) AS BIGINT) AS removed_checksum
      |FROM j GROUP BY lbl ORDER BY lbl""".stripMargin
  }

  val dedupGroupsSql: String = {
    val rounds = (1 to Rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node,
         |    LEAST(l.lbl, COALESCE(MIN(nb.lbl), l.lbl)) AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN edges e ON e.src = l.node
         |  LEFT JOIN l${i - 1} nb ON nb.node = e.dst
         |  GROUP BY l.node, l.lbl)""".stripMargin
    }.mkString(",\n")
    // reuse the full q23 pipeline as the pair source
    val pairSource = Dedup.jaccardPairsSql
      .replace("ORDER BY a_id, b_id", "")
    s"""WITH pairs AS MATERIALIZED ($pairSource),
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
      |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      |$rounds
      |SELECT sz, COUNT(*) AS n_groups, CAST(SUM(lbl) AS BIGINT) AS canonical_sum
      |FROM (SELECT lbl, COUNT(*) AS sz FROM l$Rounds GROUP BY lbl)
      |GROUP BY sz ORDER BY sz""".stripMargin
  }
}
