package graft.ops

import graft.{Corpus, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search at reference dimensionality (1024-d, the
  * featurized document corpus [[graft.Corpus.docEmbeddings]]):
  * brute-force cosine top-k as the exact baseline and
  * embedding-cosine near-dup detection with hyperplane-LSH blocking;
  * plus an IVF-style partition-pruned variant over the shared 64-d
  * `Array[Float]` embeddings table (the float-input scale path).
  *
  * Scale shape: queries are broadcast (small side), the corpus
  * streams — per-partition top-k heaps then a k·P merge
  * (TakeOrderedAndProject per query via window rank over a
  * broadcast-joined scan). IVF reduces the scanned fraction to
  * nprobe/nlist of the corpus, the same pruning ivfflat `lists=100`
  * gives the reference (`models.py:38`).
  */
object Similarity {

  /** Brute-force KNN at 1024-d: 3 query vectors × corpus, top-3
    * neighbors each (self excluded), exact cosine — the stored
    * vectors are not unit norm (quirk Q1), so the cosine normalizes
    * explicitly; zero vectors score 0. */
  def knnBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Corpus.docEmbeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", VectorOps.cosine(col("v"), col("qv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("n_id"), round(col("sim"), 6).as("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The cosine with the exact operation order of
    * [[VectorOps.cosine]] so both engines stay bit-identical. */
  private[ops] def cosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0
       | THEN 0.0 ELSE list_dot_product($a, $b)
       |   / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END""".stripMargin

  val knnBruteForceSql: String =
    s"""WITH ${Corpus.docEmbCte},
      |q AS (SELECT vec_id AS q_id, v AS qv FROM demb WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.q_id, e.vec_id, ${cosSql("e.v", "q.qv")} AS sim
      |  FROM demb e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id,  sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS n_id, ROUND(sim, 6) AS sim
      |FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  /** Fixed hyperplane-LSH family for cosine near-dup blocking at
    * [[Dims]]: [[NHyperplanes]] Rademacher (±1) hyperplanes whose
    * signs come from the engine's md5 hash rule
    * (`hash60("hp{j}_{i}") % 2`) — the oracle derives the identical
    * planes from the same rule in SQL, so the engines can never
    * drift. Banded [[NBands]] × [[BandBits]]: a pair is a candidate
    * iff all [[BandBits]] sign-bits of SOME band agree. The band
    * geometry is sized for a TEMPLATED corpus (real web documents
    * cluster, and the candidate VERIFY work — one 1024-d dot per
    * candidate — is the whole cost): 16-bit bands give 65k
    * buckets/band, fragmenting the mid-similarity cluster mass ~12×
    * vs 8-bit (measured at sf0.1: 4.7M → 0.4M candidates per 4
    * bands), and 8 bands hold recall at the [[SimThreshold]] = 0.98
    * boundary to ≈ 97% ((1-(1-acos(.98)/π)^16)^8 ≈ 0.03) — rising
    * steeply to 1 for true near-dups (miss < 1e-9 at cosine 0.9999,
    * the planted pairs; the recall spec pins ≥ 0.99 pairs exactly).
    * The signature is one native expression pass
    * ([[graft.expressions.HyperplaneBands]]); the literal-dot
    * formulation it replaces is spec-pinned equivalent. */
  val Dims: Int = graft.functions.Embeddings.RefDims
  val NHyperplanes = 128
  val BandBits = 16
  val NBands: Int = NHyperplanes / BandBits
  /** Near-dup cosine threshold. */
  val SimThreshold = 0.98

  /** hyperplanes(j)(i) ∈ {-1.0, +1.0}, j < NHyperplanes, i < Dims —
    * the reference (literal) view of the planes the native expression
    * walks; used by the equivalence spec. */
  lazy val hyperplanes: Seq[Seq[Double]] =
    (0 until NHyperplanes).map { j =>
      (0 until Dims).map(i =>
        graft.expressions.HyperplaneBands.planeSign(j, i))
    }

  /** Embedding-cosine near-dup at 1024-d: document corpus ∪ perturbed
    * copies (last component zeroed, renormalized); emit pairs with
    * cosine ≥ [[SimThreshold]].
    *
    * Blocking is CONTENT-derived: per-band sign-bit keys of the fixed
    * hyperplane projections (one native-expression pass per vector).
    * Candidate generation and verification happen INSIDE the per-band
    * bucket join — the Spark ML approxSimilarityJoin shape: each
    * vector ships once per band with its signature (NBands × corpus,
    * linear), pairs materialize only inside the join's output
    * iterator where the cosine immediately reduces them to
    * (a_id, b_id, sim), and only threshold survivors reach the
    * dedupe. The alternative — distinct candidate pairs joined back
    * to vector payloads by id — shuffles two 8 KB vectors per
    * CANDIDATE (quadratic in bucket size: measured 77 GB at sf0.1);
    * this shape's vector shuffle is the corpus × NBands, full stop.
    * A pair sharing several bands is verified once per shared band —
    * redundant compute traded for the quadratic shuffle, the right
    * trade at any scale. No id-derived key anywhere: two similar
    * vectors block together regardless of their ids. */
  /** The near-dup input: document embeddings ∪ perturbed copies
    * (vec_id + the slot-1 planted offset, last component zeroed,
    * renormalized), each row carrying its norm. Materialized —
    * exposed for the recall spec. */
  private[graft] def nearDupCorpus(spark: SparkSession,
      sfDir: String): DataFrame = {
    // vec_id here IS doc_id (Corpus.docEmbeddings), so the perturbed
    // family uses the SAME slot-1 offset convention as the text
    // carvings ([[Planted.familyOffset]], dynamic since r12 so the
    // guard never bounds a scale probe: r10 had a fixed +10000 which
    // excluded q27 from the 10x probe, r11's fixed +100000 would
    // have excluded a 30x one).
    val off = Planted.familyOffset(spark, sfDir, 1,
      "q27 embedding near-dup corpus")
    // materialize the featurized vectors FIRST: the perturbation below
    // normalizes, and a normalize-of-featurize as one nested tree
    // re-evaluates the norm's dot (and the featurizer under it) per
    // array element — O(dims²) per row, measured 26 s of the original
    // 31 s runtime at sf0.1. Staged through checkpoints/projections,
    // every subexpression runs once per row.
    val e = Corpus.docEmbeddings(spark, sfDir).pin()
    val perturbed = perturbLast(
      e.filter(pmod(col("vec_id"), lit(20)) === 0), off)
    // norms ride on the corpus rows so pair verification is one dot
    // (identical arithmetic to the inline cosine: sqrt of the
    // self-dot, computed once per vector instead of once per pair)
    e.unionByName(perturbed)
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
      .pin()
  }

  /** Perturbed copies of `rows(vec_id, v)` — last component zeroed,
    * renormalized, re-keyed to `vec_id + off`: the planted near-dup /
    * leaked-twin recipe shared by q27 and q228 (single-sourced so the
    * two corpora can never drift). l2Normalize runs over materialized
    * (pv, pn) projections — same arithmetic as the inline form, the
    * norm an attribute instead of a per-element subtree. */
  private[graft] def perturbLast(rows: DataFrame, off: Long): DataFrame =
    rows
      .select((col("vec_id") + off).as("vec_id"),
        concat(slice(col("v"), 1, Dims - 1), array(lit(0.0))).as("pv"))
      .withColumn("pn", VectorOps.l2Norm(col("pv")))
      .select(col("vec_id"),
        when(col("pn") === 0.0, col("pv"))
          .otherwise(transform(col("pv"), x => x / col("pn"))).as("v"))

  /** Recall-matched LSH geometry ladder at the [[SimThreshold]]
    * operating point (per-bit sign agreement p = 1 − acos(0.98)/π ≈
    * 0.936): each rung holds band-miss probability ≈ 2.5–3% at the
    * threshold boundary while dividing per-band chance-collision
    * density by 2^Δr — (16,8) ≈ (20,12) ≈ (24,16) in recall, but
    * each step cuts chance pairs ~16× per band. planes = bits ×
    * bands. */
  val GeometryLadder: Seq[(Int, Int)] = Seq(
    (NHyperplanes, BandBits), // (128, 16) — the declared geometry
    (240, 20), // 12 bands × 20 bits — the 10⁶-row regime
    (384, 24)) // 16 bands × 24 bits — the 10⁷-row regime

  /** Declared candidate-volume bound: the operator refuses to run a
    * geometry whose measured bucket census expects more than this
    * many verification pairs per vector. Calibrated above every
    * measured operating point of the CURRENT geometry (sf0.1 124/v,
    * staged 10× 168/v, 20× 186/v — cluster mass, flat-ish in n) and
    * below the chance-dominated 10⁶-row regime (n·L/2^r ≈ 122/v at
    * n = 10⁶ rides ON TOP of the ~150/v cluster mass), so widening
    * engages exactly where PERF.md r11 demonstrated the (240, 20)
    * path by hand. */
  val MaxCandPairsPerVector = 256L

  /** The chosen geometry plus the census evidence that chose it. */
  private[graft] final case class LshGeometry(planes: Int, bits: Int,
      n: Long, candPairs: Long, widenedFrom: Seq[(Int, Int)])

  /** Bucket-density census at a geometry: Σ c·(c−1)/2 over (band,
    * key) buckets — the exact number of candidate verifications the
    * band join will perform. One narrow aggregation over (band, key)
    * keys; vector payloads never leave the scan. */
  private[graft] def censusCandPairs(corpus: DataFrame,
      planes: Int, bits: Int): Long =
    buckets(corpus, planes, bits)
      .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0))
        .cast("long"))
      .head().getLong(0)

  /** The `keep` columns of `df` with one row per band of its vector
    * `v`'s hyperplane signature at (planes, bits): `band` (0-based)
    * and its packed sign-bit `key`. The one place a vector is banded:
    * the band join, both density censuses and the probe read it. */
  private[graft] def bandRows(df: DataFrame, planes: Int, bits: Int,
      keep: String*): DataFrame = {
    import graft.expressions.HyperplaneBands
    df.select(keep.map(col) :+
        posexplode(HyperplaneBands.bands(col("v"), planes, bits)): _*)
      .toDF(keep ++ Seq("band", "key"): _*)
  }

  /** Rows per (band, key) bucket of [[bandRows]], as `c`. */
  private[graft] def buckets(df: DataFrame, planes: Int,
      bits: Int): DataFrame =
    bandRows(df, planes, bits)
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))

  /** The one ladder walker behind every LSH density self-guard
    * (q27 self-join, q228 bipartite — the policy, the widen logging,
    * and the refuse contract live here so the two guards cannot
    * drift): walk the recall-matched ladder until the measured
    * candidate volume fits the declared budget; fail loudly
    * (Planted-guard style) if even the widest rung is over — that
    * density is irreducible near-dup mass, and the OUTPUT itself is
    * quadratic: widening can thin chance collisions, never true
    * duplicates. */
  private[graft] def walkGeometryLadder(n: Long, budgetPerVector: Long,
      label: String, subject: String, remedy: String,
      census: (Int, Int) => Long): LshGeometry = {
    val budget = budgetPerVector * n
    var walked = List.empty[(Int, Int)]
    GeometryLadder.foreach { case (planes, bits) =>
      val cand = census(planes, bits)
      if (cand <= budget)
        return LshGeometry(planes, bits, n, cand, walked.reverse)
      System.err.println(s"[$label] lsh census at ($planes, $bits): " +
        s"$cand candidate pairs > budget $budget " +
        s"($budgetPerVector/$subject × $n) — widening")
      walked ::= ((planes, bits))
    }
    throw new IllegalStateException(
      s"[$label lsh-density guard] candidate volume exceeds " +
        s"$budgetPerVector pairs/$subject at EVERY ladder geometry " +
        s"(${GeometryLadder.mkString(", ")}; n=$n): this density is " +
        "irreducible near-duplicate mass, not chance collision — the " +
        s"pair OUTPUT itself is quadratic. $remedy")
  }

  /** The q27 self-guard (VERDICT r11 #2). */
  private[graft] def chooseGeometry(corpus: DataFrame,
      budgetPerVector: Long = MaxCandPairsPerVector): LshGeometry =
    walkGeometryLadder(corpus.count(), budgetPerVector, "q27", "vector",
      "Collapse exact/near duplicates (q22/q53) before pairwise scoring",
      censusCandPairs(corpus, _, _))

  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, sfDir)
    val g = chooseGeometry(corpus)
    if (g.widenedFrom.nonEmpty)
      System.err.println(s"[q27] lsh geometry widened " +
        s"${g.widenedFrom.mkString("→")} → (${g.planes}, ${g.bits}) " +
        s"(census ${g.candPairs} pairs over n=${g.n})")
    nearDupPairs(corpus, g.planes, g.bits, nRows = Some(g.n))
  }

  /** The same operator with the LSH width parameters exposed — the
    * production scaling path. At fixed band geometry the per-band
    * bucket count is 2^bandBits, so the chance-collision candidate
    * volume grows ~n²/2^bandBits once the corpus outruns the band
    * width (measured on the staged 10× corpus: pairs 650 k → 8.8 M,
    * 13.6× at 10× data). The standard LSH answer grows r (bits) and
    * L (bands) together to hold recall while dividing chance density
    * by 2^Δr: at the q27 operating point (sim ≥ 0.98 ⇒ per-bit sign
    * agreement p ≈ 0.94), (r=16, L=8) ≈ (r=20, L=12) in recall, but
    * the wider bands cut chance pairs ~16× per band. The DECLARED q27
    * keeps (128, 16) — its oracle is pinned at that geometry — and
    * the scale probe runs this at (240, 20). */
  def embeddingNearDupAt(spark: SparkSession, sfDir: String,
      nPlanes: Int, bandBits: Int): DataFrame =
    nearDupPairs(nearDupCorpus(spark, sfDir), nPlanes, bandBits, None)

  /** Rows of (8 KB vector + keys) per hash-build partition: ~64 MB
    * builds — comfortably inside a task's execution-memory slice at
    * 32 tasks × 24 GB, and the right order for a production
    * executor's per-core share. */
  val BuildRowsPerPartition = 8192L

  /** The sized shuffle-hash band join over prepared corpora — THE
    * one place the hash-build partition sizing and the
    * never-broadcast discipline live, for both the q27 SELF-join
    * (`right = None`, pairs `a_id < b_id`) and the q228 BIPARTITE
    * join (`right = Some(evalSide)`). `nRows` spares the
    * partition-sizing count when the caller (a guard) already
    * counted the checkpointed left corpus. */
  private[graft] def bandJoinPairs(left: DataFrame,
      right: Option[DataFrame], nPlanes: Int, bandBits: Int,
      nRows: Option[Long] = None): DataFrame = {
    val nBands = nPlanes / bandBits
    def banded(df: DataFrame) =
      bandRows(df, nPlanes, bandBits, "vec_id", "v", "nrm")
    // Hash-build partition sizing (r12, found by the 30× probe): the
    // SHUFFLE_HASH build below holds one partition of (corpus ×
    // bands) 8 KB-vector rows IN MEMORY, and a HashedRelation build
    // cannot spill — at the session default of 32 partitions the 30×
    // staged corpus needs a ~320 MB contiguous build per task and
    // dies with "Can't acquire ... bytes memory to build hash
    // relation". Width the exchange to ~[[BuildRowsPerPartition]]
    // wide rows (~64 MB) per partition; the explicit repartition
    // REPLACES the join's own ENSURE_REQUIREMENTS exchange (same
    // keys, so the join adds none — one shuffle per side either
    // way), AQE never coalesces a user-specified width, and the
    // defaultParallelism floor keeps declared-SF plans unchanged.
    val spark = left.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism.toLong,
      nRows.getOrElse(left.count()) * nBands / BuildRowsPerPartition + 1)
      .toInt
    val a = banded(left).select(col("band"), col("key"),
      col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
      .repartition(parts, col("band"), col("key"))
    val b = banded(right.getOrElse(left)).select(col("band"), col("key"),
      col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"))
      .repartition(parts, col("band"), col("key"))
    val denom = col("na") * col("nb")
    // Force the partitioned join: the bucketed sides are
    // pinned LogicalRDDs whose inherited size estimate
    // UNDER-reports the exploded 8 KB-vector rows, so the static
    // planner picked BroadcastHashJoin — collecting corpus × NBands
    // vector payloads through the driver (measured: 3.4 GB at the
    // staged 10× corpus, 64 s wall; the (240, 20) geometry exceeded
    // the 8 GiB broadcast cap outright). AQE cannot demote it: the
    // relation feeds the join with no materialized shuffle stage to
    // re-measure, so the static mistake stands at ANY scale — the
    // inverse of the q192 promotion story. SHUFFLE_HASH, not merge:
    // both restore the one-shuffle-per-side linear shape, but SMJ
    // SORTS the 8 KB-vector rows (measured at the staged 10× corpus:
    // merge 24-29 s with 4 s of GC vs 9.9 s hashed — the sort of wide
    // payloads was the residual cost), while the hash build keys a
    // bucket's rows without ever ordering the payloads.
    val joined = a.join(b.hint("shuffle_hash"), Seq("band", "key"))
    // the self-join scopes to ordered pairs; the bipartite join keeps
    // every (left, right) candidate (the sides are disjoint id spaces)
    val scoped =
      if (right.isEmpty) joined.filter(col("a_id") < col("b_id"))
      else joined
    scoped
      .withColumn("sim", when(denom === 0.0, lit(0.0))
        .otherwise(VectorOps.dot(col("va"), col("vb")) / denom))
      .filter(col("sim") >= SimThreshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
      .distinct()
  }

  /** The q27 self-join at a fixed geometry over a prepared corpus. */
  private[graft] def nearDupPairs(corpus: DataFrame,
      nPlanes: Int, bandBits: Int, nRows: Option[Long] = None): DataFrame =
    bandJoinPairs(corpus, None, nPlanes, bandBits, nRows)
      .orderBy(col("a_id"), col("b_id"))

  /** The perturbed-copy CTE over `src(vec_id, v)` — the oracle
    * rendering of [[perturbLast]], single-sourced for q27 and q228. */
  private[ops] def perturbCte(src: String, offsetSql: String): String =
    s"""pert AS (
      |  SELECT vec_id + $offsetSql AS vec_id,
      |    CASE WHEN nrm = 0 THEN pv ELSE list_transform(pv, x -> x / nrm) END AS v
      |  FROM (
      |    SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS nrm
      |    FROM (SELECT vec_id, list_append(v[1:${Dims - 1}], 0.0::DOUBLE) AS pv
      |          FROM $src)))""".stripMargin

  /** hp/proj/bands CTE chain over a caller-supplied `corpus(vec_id,
    * v, …)` CTE — the band-signature rule single-sourced across the
    * q27 pair oracle, the q225 census oracle, and the q228
    * decontamination oracle so the engines (and the three queries)
    * can never drift on the blocking geometry. */
  private[ops] def hpProjBandsCtes(nPlanes: Int = NHyperplanes,
      bandBits: Int = BandBits): String =
    s"""hp AS MATERIALIZED (
      |  SELECT j, list_transform(generate_series(0, ${Dims - 1}), i ->
      |    CASE WHEN ('0x' || substr(md5('hp' || j || '_' || i), 1, 15))::BIGINT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS hv
      |  FROM generate_series(0, ${nPlanes - 1}) AS t(j)),
      |proj AS (
      |  SELECT c.vec_id, h.j,
      |    CASE WHEN list_dot_product(c.v, h.hv) >= 0 THEN 1 ELSE 0 END AS s
      |  FROM corpus c CROSS JOIN hp h),
      |bands AS (
      |  SELECT vec_id, j // $bandBits AS band,
      |    SUM(s * (1 << (j % $bandBits))) AS key
      |  FROM proj GROUP BY vec_id, j // $bandBits)""".stripMargin

  /** The shared oracle CTE chain up to per-vector band signatures —
    * single-sourced between the q27 pair oracle and the q225 census
    * oracle so the two can never drift. */
  private[ops] val lshBandsCtes: String =
    s"""${Corpus.docEmbCte},
      |${perturbCte("demb WHERE vec_id % 20 = 0", Planted.offsetSql(1))},
      |corpus AS MATERIALIZED (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM (
      |    SELECT vec_id, v FROM demb UNION ALL SELECT vec_id, v FROM pert)),
      |${hpProjBandsCtes()}""".stripMargin

  val embeddingNearDupSql: String =
    s"""WITH $lshBandsCtes,
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
      |pairs AS (
      |  SELECT c.a_id, c.b_id,
      |    CASE WHEN va.nrm * vb.nrm = 0 THEN 0.0
      |         ELSE list_dot_product(va.v, vb.v) / (va.nrm * vb.nrm) END AS sim
      |  FROM cand c
      |  JOIN corpus va ON va.vec_id = c.a_id
      |  JOIN corpus vb ON vb.vec_id = c.b_id)
      |SELECT a_id, b_id, ROUND(sim, 6) AS sim
      |FROM pairs WHERE sim >= $SimThreshold
      |ORDER BY a_id, b_id""".stripMargin

  /** q225: the lsh-density census as a DECLARED query — the guard's
    * arithmetic (bucket sizes → candidate verification volume, per
    * band at the declared geometry) pinned at the oracle gate, the
    * q224 treatment applied to the q27 self-guard: if a Spark change
    * (hash evaluation, band packing, explode semantics) ever shifts
    * the census the guard decides from, the gate fails loudly. Also
    * the capacity-planning readout a production run logs: per-band
    * bucket occupancy IS the skew/volume forecast for the band join. */
  def lshDensityCensus(spark: SparkSession, sfDir: String): DataFrame =
    buckets(nearDupCorpus(spark, sfDir), NHyperplanes, BandBits)
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("cand_pairs"))
      .orderBy(col("band"))

  val lshDensityCensusSql: String =
    s"""WITH $lshBandsCtes,
      |buckets AS (
      |  SELECT band, key, COUNT(*) AS c
      |  FROM bands GROUP BY band, key)
      |SELECT band, COUNT(*) AS n_buckets, MAX(c) AS max_bucket,
      |  CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS cand_pairs
      |FROM buckets GROUP BY band ORDER BY band""".stripMargin

  /** IVF-style ANN: per-label centroids (the "inverted lists" — the
    * label column stands in for a k-means assignment), query probes
    * the nprobe=2 nearest centroids, exact search only within those
    * lists. Scanned fraction ≈ nprobe/nlist — the ivfflat trade. */
  def knnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
    // exact-decimal per-dimension mean → deterministic centroids
    val centroids = e.groupBy(col("label")).agg(
      array((0 until 64).map { i =>
        round(sum(element_at(col("v"), i + 1).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)), 9)
      }: _*).as("cv"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("csim", VectorOps.dot(col("qv"), col("cv")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("csim").desc, col("label"))))
      .filter(col("crank") <= 2)
      .select(col("q_id"), col("qv"), col("label"))
    val scored = probed.join(e, Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", VectorOps.dot(col("v"), col("qv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("n_id"), round(col("sim"), 6).as("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  val knnIvfSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cdims AS (
      |  SELECT label, i,
      |    ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 9) AS c
      |  FROM e CROSS JOIN generate_series(1, 64) AS t(i)
      |  GROUP BY label, i),
      |centroids AS (
      |  SELECT label, list(c ORDER BY i) AS cv FROM cdims GROUP BY label),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
      |probed AS (
      |  SELECT q_id, qv, label FROM (
      |    SELECT q.q_id, q.qv, c.label,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id
      |        ORDER BY list_dot_product(q.qv, c.cv) DESC, c.label) AS crank
      |    FROM q CROSS JOIN centroids c)
      |  WHERE crank <= 2),
      |scored AS (
      |  SELECT p.q_id, e.vec_id, list_dot_product(e.v, p.qv) AS sim
      |  FROM probed p JOIN e ON e.label = p.label
      |  WHERE e.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS n_id, ROUND(sim, 6) AS sim
      |FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---- q116: hard-negative mining ----------------------------------

  /** Queries (vec_id below this) and negatives-per-query for the
    * hard-negative pass. */
  val HnQueries = 5
  val HnK = 5

  /** q116: hard-negative mining for contrastive/embedding training —
    * for each query vector, the [[HnK]] nearest OTHER-labeled vectors
    * by cosine (the negatives that sit closest to the decision
    * boundary, the ones a contrastive batch actually needs; random
    * negatives are trivially easy).
    *
    * Shape: identical to the KNN family — queries broadcast, corpus
    * streams once, the label-mismatch filter rides the scan before
    * any scoring, per-query rank via window over the broadcast-joined
    * scan. At a billion vectors the corpus side would route through
    * the q28/q79 IVF pruning instead of the full scan; the operator
    * semantics (label-filtered top-k) are unchanged. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < HnQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("sim", VectorOps.cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= HnK)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("n_id"), col("label").as("n_label"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id AS q_id, label AS q_label, v AS qv
      |  FROM e WHERE vec_id < $HnQueries),
      |scored AS (
      |  SELECT q.q_id, e.vec_id, e.label, ${cosSql("e.v", "q.qv")} AS sim
      |  FROM e CROSS JOIN q WHERE e.label <> q.q_label),
      |ranked AS (
      |  SELECT q_id, vec_id, label, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS n_id, label AS n_label,
      |  ROUND(sim, 6) AS sim
      |FROM ranked WHERE rank <= $HnK
      |ORDER BY q_id, rank""".stripMargin
}
