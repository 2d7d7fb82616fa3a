package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics over the crawl graph (the same synthetic
  * edge list the BFS frontier uses): PageRank with damping 0.85, a
  * fixed 3 power iterations — the authority signal a crawl corpus
  * uses for per-domain/page sampling weights.
  *
  * Scale shape: each iteration is one (contrib join on src) + one
  * groupBy dst — the shuffle pattern of the components loop —
  * pin per iteration to cut lineage. The rank/outdeg
  * sides are broadcast and the per-iteration checkpoints collapse to
  * one partition when the measured node count is small
  * ([[Materialize.Sizing]]; the node count rides the node pin's job);
  * a billion-node graph takes the shuffle-join path with full
  * parallelism. Two mass semantics:
  *
  *   - [[pageRank]] DROPS dangling-node mass (documented
  *     simplification; ranks do not sum to 1),
  *   - [[pageRankFull]] redistributes it uniformly — the standard
  *     semantics — at the cost of one extra 1-row aggregate per
  *     iteration (broadcast back), over a bipartite-tail graph
  *     derivation where 500 sink nodes guarantee the dangling term
  *     is actually exercised.
  *
  * Determinism: per-iteration ranks round to 12 decimals and every
  * mass sum accumulates in DECIMAL, so both engines walk identical
  * rank vectors. */
object Graph {

  val Damping = 0.85
  val Iters = 3

  private def edges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_orderkey"), lit(2000)).as("src"),
        pmod(col("l_partkey"), lit(2000)).as("dst"))
      .distinct()

  /** Edge list with a guaranteed dangling tail: order nodes 0..1999
    * link to part nodes 2000..2499, which never appear as sources —
    * 500 sinks whose mass the full variant must redistribute. */
  private def edgesWithSinks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_orderkey"), lit(2000)).as("src"),
        (lit(2000) + pmod(col("l_partkey"), lit(500))).as("dst"))
      .distinct()

  def pageRank(spark: SparkSession, sfDir: String): DataFrame =
    pageRankOf(edges(spark, sfDir), redistributeDangling = false)

  def pageRankFull(spark: SparkSession, sfDir: String): DataFrame =
    pageRankOf(edgesWithSinks(spark, sfDir), redistributeDangling = true)

  private def pageRankOf(edgeList: DataFrame,
      redistributeDangling: Boolean): DataFrame = {
    val es = edgeList.cache()
    try {
      val (nodes, sizing) = Materialize.pinSized(
        es.select(col("src").as("node"))
          .unionByName(es.select(col("dst").as("node"))).distinct())
      val outdeg = es.groupBy(col("src"))
        .agg(count(lit(1)).cast("double").as("deg"))
        .pin()
      // one count up front (the loop materializes checkpoints anyway —
      // this is an iterative job, not a lazy plan), shared by every
      // iteration instead of a per-iteration 1-row cross join
      val n = sizing.rows.toDouble
      var ranks = sizing.pin(nodes
        .select(col("node"), round(lit(1.0) / lit(n), 12).as("rank")))
      for (_ <- 1 to Iters) {
        val contribs = es
          .join(sizing.side(ranks), col("src") === col("node"))
          .join(sizing.side(outdeg), Seq("src"))
          .select(col("dst"), round(col("rank") / col("deg"), 12).as("c"))
        val inbound = contribs.groupBy(col("dst")).agg(
          round(sum(col("c").cast("decimal(28,14)")).cast("double"), 12)
            .as("insum"))
        val base = nodes
          .join(sizing.side(inbound), col("node") === col("dst"), "left")
        val (withDm, mass) =
          if (!redistributeDangling)
            (base, coalesce(col("insum"), lit(0.0)))
          else {
            // dangling mass: total rank sitting on nodes with no
            // out-edges, spread uniformly — one 1-row aggregate per
            // iteration, broadcast back
            val dm = ranks
              .join(outdeg, col("node") === col("src"), "left_anti")
              .agg(round(sum(col("rank").cast("decimal(28,14)"))
                .cast("double"), 12).as("dm"))
            (base.crossJoin(broadcast(dm)),
              coalesce(col("insum"), lit(0.0)) +
                coalesce(col("dm"), lit(0.0)) / lit(n))
          }
        ranks = sizing.advance(ranks, withDm
          .select(col("node"),
            round(lit(1.0 - Damping) / lit(n) + lit(Damping) * mass, 12)
              .as("rank")))
      }
      // the answer reads the last ranks only
      Materialize.release(nodes)
      Materialize.release(outdeg)
      ranks.orderBy(col("rank").desc, col("node")).limit(10)
        .select(col("node"), round(col("rank"), 9).as("rank"))
    } finally es.unpersist()
  }

  private def pageRankSqlOf(edgesSql: String,
      redistributeDangling: Boolean): String = {
    val iters = (1 to Iters).map { i =>
      val dmCte =
        if (!redistributeDangling) ""
        else s"""dm$i AS (
           |  SELECT ROUND(CAST(SUM(CAST(rank AS DECIMAL(28,14))) AS DOUBLE), 12) AS dm
           |  FROM r${i - 1}
           |  WHERE node NOT IN (SELECT src FROM edges)),
           |""".stripMargin
      val massSql =
        if (!redistributeDangling) "COALESCE(s.insum, 0.0)"
        else s"(COALESCE(s.insum, 0.0) + COALESCE((SELECT dm FROM dm$i), 0.0) / (SELECT n FROM nn))"
      s"""c$i AS (
         |  SELECT e.dst, ROUND(r.rank / d.deg, 12) AS c
         |  FROM edges e
         |  JOIN r${i - 1} r ON r.node = e.src
         |  JOIN outdeg d ON d.src = e.src),
         |s$i AS (
         |  SELECT dst, ROUND(CAST(SUM(CAST(c AS DECIMAL(28,14))) AS DOUBLE), 12) AS insum
         |  FROM c$i GROUP BY dst),
         |${dmCte}r$i AS (
         |  SELECT n.node,
         |    ROUND(${1.0 - Damping} / (SELECT n FROM nn)
         |      + $Damping * $massSql, 12) AS rank
         |  FROM nodes n LEFT JOIN s$i s ON s.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
      |  $edgesSql),
      |nodes AS (
      |  SELECT DISTINCT node FROM (
      |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      |outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
      |r0 AS (
      |  SELECT node, ROUND(1.0 / (SELECT n FROM nn), 12) AS rank FROM nodes),
      |$iters
      |SELECT node, ROUND(rank_raw, 9) AS rank
      |FROM (SELECT node, rank AS rank_raw FROM r$Iters)
      |ORDER BY rank_raw DESC, node
      |LIMIT 10""".stripMargin
  }

  val pageRankSql: String = pageRankSqlOf(
    "SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst\n  FROM lineitem",
    redistributeDangling = false)

  val pageRankFullSql: String = pageRankSqlOf(
    "SELECT DISTINCT l_orderkey % 2000 AS src, 2000 + l_partkey % 500 AS dst\n  FROM lineitem",
    redistributeDangling = true)

  /** Node-id space for the triangle graph — sparser than the
    * PageRank graph (mod 2000) so wedge counts stay join-friendly. */
  val TriNodes = 20000

  /** q94: triangle count + global clustering coefficient with
    * DEGREE-ORDERED edge orientation — the standard trick that makes
    * triangle enumeration feasible at scale: orient every undirected
    * edge from its (degree, id)-smaller endpoint to the larger, so a
    * triangle is counted exactly once and, crucially, every node's
    * out-degree is bounded by O(√m) regardless of how skewed the raw
    * degree distribution is (a celebrity node with 10M followers
    * contributes no 10M² wedge explosion — its edges all point INTO
    * it). The plan is three hash joins: edges⋈degrees (twice, to
    * orient) and wedges⋈edges (to close); no windows, no global
    * sorts, every shuffle keyed on node ids. */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_orderkey"), lit(TriNodes)).as("a"),
        pmod(col("l_partkey"), lit(TriNodes)).as("b"))
      .where(col("a") =!= col("b"))
    // reused by degrees + orientation + closing join
    val (und, nUnd) = Materialize.pinCounted(
      raw.select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .distinct())
    // wedges outnumber edges quadratically-in-degree: when the edge
    // list itself is small, broadcast it to the wedge side so the
    // (much larger) wedge set never shuffles; huge graphs keep the
    // partitioned hash join on (b, c)
    val smallEdges = nUnd < 2000000L
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .pin() // reused: two orientation joins + wedge stats
    // orient: (deg, id)-smaller endpoint → larger; the degree table is
    // |V| rows (vs |E| edges and |E|^{1.5}-bounded wedges) — broadcast
    val du = broadcast(deg.select(col("node").as("u"), col("deg").as("du")))
    val dv = broadcast(deg.select(col("node").as("v"), col("deg").as("dv")))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und.join(du, "u").join(dv, "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dt"))
      .pin()
    // wedges from a common oriented source, ordered by (deg, id) so
    // each unordered out-pair appears once
    val e1 = oriented.select(col("s"), col("t").as("b"), col("dt").as("db"))
    val e2 = oriented.select(col("s"), col("t").as("c"), col("dt").as("dc"))
    val wedges = e1.join(e2, Seq("s"))
      .where(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("b"), col("c"))
    val closing = oriented.select(col("s").as("b"), col("t").as("c"))
    val tri = wedges
      .join(if (smallEdges) broadcast(closing) else closing, Seq("b", "c"))
      .count()
    // wedge total Σ C(deg,2) over the UNDIRECTED degrees (exact int)
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / lit(2)).cast("long").as("n_edges"),
      sum((col("deg") * (col("deg") - lit(1)) / lit(2)).cast("long"))
        .as("n_wedges"))
    stats.select(
      col("n_nodes"), col("n_edges"),
      lit(tri).as("n_triangles"),
      col("n_wedges"),
      round(lit(3.0) * lit(tri).cast("double") /
        col("n_wedges").cast("double"), 9).as("transitivity"))
  }

  val trianglesSql: String =
    s"""WITH und AS (
      |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM (
      |    SELECT l_orderkey % $TriNodes AS a, l_partkey % $TriNodes AS b
      |    FROM lineitem)
      |  WHERE a <> b),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      |  GROUP BY node),
      |oriented AS (
      |  SELECT
      |    CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
      |         THEN und.u ELSE und.v END AS s,
      |    CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
      |         THEN und.v ELSE und.u END AS t,
      |    CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
      |         THEN dv.deg ELSE du.deg END AS dt
      |  FROM und
      |  JOIN deg du ON du.node = und.u
      |  JOIN deg dv ON dv.node = und.v),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM oriented e1
      |  JOIN oriented e2 ON e2.s = e1.s
      |    AND ((e1.dt, e1.t) < (e2.dt, e2.t))
      |  JOIN oriented e3 ON e3.s = e1.t AND e3.t = e2.t)
      |SELECT
      |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
      |  (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles,
      |  CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
      |  ROUND(3.0 * (SELECT n_triangles FROM tri)
      |        / CAST(SUM(deg * (deg - 1) // 2) AS DOUBLE), 9) AS transitivity
      |FROM deg""".stripMargin

  // -----------------------------------------------------------------
  // q110: HITS (Kleinberg) hubs & authorities — the OTHER classic link
  // score: a page is a good authority if good hubs point at it and a
  // good hub if it points at good authorities. Two mutually-recursive
  // power iterations over the same edge list as PageRank, with the
  // identical scale treatment: broadcast score joins + 1-partition
  // checkpoints under the small-graph threshold, full shuffle path
  // above it. Sum-normalization per half-step (instead of the
  // textbook L2) keeps every normalizer an exact DECIMAL sum, so both
  // engines walk identical score vectors; the relative ranking is the
  // same under any positive scaling.
  // -----------------------------------------------------------------

  val HitsIters = 2

  def hits(spark: SparkSession, sfDir: String): DataFrame =
    hitsOver(edges(spark, sfDir))

  /** The HITS loop over an arbitrary (src, dst) edge list — the seam
    * the scale probe drives with synthetic E ∝ multiplier graphs
    * ([[graft.tools.ProbeGraphScale]]): the declared q110 graph is
    * derived from byte-copied-in-staging `lineitem` through a fixed
    * pmod node space, so staged-corpus ladders measure a CONSTANT
    * graph (by design), and the family's scale question — is each
    * iteration's edge-shuffle linear in E? — needs the edge list
    * itself to grow. */
  private[graft] def hitsOver(edgeList: DataFrame): DataFrame = {
    val es = edgeList.cache()
    try {
      val (nodes, sizing) = Materialize.pinSized(
        es.select(col("src").as("node"))
          .unionByName(es.select(col("dst").as("node"))).distinct())
      // the round after `prev`: `raw` scaled to sum 1
      def normalized(prev: DataFrame, raw: DataFrame, key: String,
          out: String): DataFrame = {
        val total = raw.agg(
          sum(col("raw").cast("decimal(28,14)")).cast("double").as("t"))
        sizing.advance(prev, raw.crossJoin(broadcast(total))
          .select(col(key).as("node"),
            round(col("raw") / col("t"), 12).as(out)))
      }
      var hubs = sizing.pin(nodes.select(col("node"), lit(1.0).as("hub")))
      // the node pin stands in for round 0's authorities: nothing
      // reads it after the first hubs, and round 1 releases it
      var auths = nodes
      for (_ <- 1 to HitsIters) {
        val rawAuth = es.join(sizing.side(hubs), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(round(sum(col("hub").cast("decimal(28,14)")).cast("double"), 12)
            .as("raw"))
        auths = normalized(auths, rawAuth, "dst", "auth")
        val rawHub = es.join(sizing.side(auths), col("dst") === col("node"))
          .groupBy(col("src"))
          .agg(round(sum(col("auth").cast("decimal(28,14)")).cast("double"), 12)
            .as("raw"))
        hubs = normalized(hubs, rawHub, "src", "hub")
      }
      auths.join(hubs, Seq("node"), "full_outer")
        .select(col("node"),
          coalesce(col("auth"), lit(0.0)).as("auth"),
          coalesce(col("hub"), lit(0.0)).as("hub"))
        .orderBy(col("auth").desc, col("node"))
        .limit(10)
    } finally { es.unpersist(); () }
  }

  val hitsSql: String = {
    def authStep(i: Int): String = {
      val prevHub = s"h${i - 1}"
      s"""ra$i AS (
        |  SELECT dst, ROUND(CAST(SUM(CAST(hub AS DECIMAL(28,14))) AS DOUBLE), 12) AS raw
        |  FROM e JOIN $prevHub ON $prevHub.node = e.src GROUP BY dst),
        |a$i AS (
        |  SELECT dst AS node,
        |    ROUND(raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,14))) AS DOUBLE) FROM ra$i), 12) AS auth
        |  FROM ra$i)""".stripMargin
    }
    def hubStep(i: Int): String =
      s"""rh$i AS (
        |  SELECT src, ROUND(CAST(SUM(CAST(auth AS DECIMAL(28,14))) AS DOUBLE), 12) AS raw
        |  FROM e JOIN a$i ON a$i.node = e.dst GROUP BY src),
        |h$i AS (
        |  SELECT src AS node,
        |    ROUND(raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,14))) AS DOUBLE) FROM rh$i), 12) AS hub
        |  FROM rh$i)""".stripMargin
    val rounds = (1 to HitsIters)
      .map(i => authStep(i) + ",\n" + hubStep(i)).mkString(",\n")
    s"""WITH e AS (
      |  SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
      |  FROM lineitem),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |h0 AS (SELECT node, 1.0 AS hub FROM nodes),
      |$rounds
      |SELECT COALESCE(a.node, h.node) AS node,
      |  COALESCE(a.auth, 0.0) AS auth, COALESCE(h.hub, 0.0) AS hub
      |FROM a$HitsIters a FULL OUTER JOIN h$HitsIters h ON a.node = h.node
      |ORDER BY auth DESC, node
      |LIMIT 10""".stripMargin
  }

  // ---- q218: degree assortativity --------------------------------

  /** q218: Newman's degree-assortativity coefficient (Newman 2002,
    * "Assortative mixing in networks") over the undirected PageRank
    * graph — the mixing diagnostic the per-node scores (q66 rank,
    * q110 hubs, q94 triangles) can't give: do high-degree nodes link
    * to other hubs (r > 0, social-network shape) or to leaves (r < 0,
    * hub-and-spoke, the shape that concentrates join load on a few
    * keys)? r is the Pearson correlation of the endpoint degrees over
    * edges — the q49 decimal-moment discipline on the symmetrized
    * edge relation (each undirected edge contributes both
    * orientations, the standard formulation that makes the two
    * marginals identical).
    *
    * Scale shape: symmetrize + distinct is one shuffle on the edge
    * relation; degrees are a partial-agg'd count; two broadcast-free
    * keyed joins attach endpoint degrees (degree relation is
    * node-sized — no broadcast hint, the q69 honesty rule); the
    * moment sums collapse map-side to ONE row. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame =
    assortativityOf(edges(spark, sfDir))

  /** The coefficient of any (src, dst) edge relation — exposed for
    * the spec's closed-form graphs. */
  private[graft] def assortativityOf(edgesDf: DataFrame): DataFrame = {
    val e = edgesDf.filter(col("src") =!= col("dst"))
    val und = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val paired = und
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
    def dsum(c: Column, scale: Int) =
      sum(c.cast(s"decimal(38,$scale)")).cast("double")
    val m = paired.agg(
      count(lit(1)).cast("double").as("m"),
      dsum(col("dx"), 0).as("sx"),
      dsum(col("dy"), 0).as("sy"),
      dsum(col("dx") * col("dy"), 0).as("sxy"),
      dsum(col("dx") * col("dx"), 0).as("sxx"),
      dsum(col("dy") * col("dy"), 0).as("syy"))
    val cov = col("m") * col("sxy") - col("sx") * col("sy")
    val vx = col("m") * col("sxx") - col("sx") * col("sx")
    val vy = col("m") * col("syy") - col("sy") * col("sy")
    m.select(
        (col("m") / 2).cast("long").as("n_edges"),
        round(col("sx") / col("m"), 6).as("mean_deg_at_edge"),
        when(vx * vy === 0.0, lit(null).cast("double"))
          .otherwise(round(cov / sqrt(vx * vy), 6)).as("assortativity"))
  }

  val assortativitySql: String =
    """WITH e AS (
      |  SELECT src, dst FROM (
      |    SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
      |    FROM lineitem) WHERE src <> dst),
      |und AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
      |paired AS (
      |  SELECT da.deg AS dx, db.deg AS dy
      |  FROM und u
      |  JOIN deg da ON da.node = u.src
      |  JOIN deg db ON db.node = u.dst),
      |m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS m,
      |    CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM paired)
      |SELECT CAST(m / 2 AS BIGINT) AS n_edges,
      |  ROUND(sx / m, 6) AS mean_deg_at_edge,
      |  CASE WHEN (m * sxx - sx * sx) * (m * syy - sy * sy) = 0.0 THEN NULL
      |    ELSE ROUND((m * sxy - sx * sy)
      |      / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)), 6)
      |  END AS assortativity
      |FROM m""".stripMargin
}
