package graft.ops

import graft.{Corpus, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic mini k-means (Lloyd's, k=10, 2 iterations, first-k
  * init) over the embeddings table, and the learned-IVF ANN built on
  * it — the engine's answer to pgvector's ivfflat training phase
  * (`lists=100`, reference migration `939d487ab146:39`).
  *
  * Determinism contract: assignment ranks on ROUND(dot, 9) with
  * centroid-id tiebreak; centroid updates are exact-decimal per-dim
  * means rounded to 9 — every step is bit-reproducible in the DuckDB
  * oracle, which unrolls the same two iterations as CTEs.
  *
  * Scale: each iteration is one broadcast join (k centroids) + one
  * shuffle on cluster id; k-means over 100 TB of vectors is exactly
  * this loop with checkpointing between iterations.
  */
object KMeans {

  val K = 10
  val Iters = 2

  private def vectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))

  /** One assignment step: nearest centroid by rounded dot (unit
    * vectors → max dot = min L2). Map-side-combinable `min_by` over
    * (-score, cid) — the 10×-exploded candidate rows never leave
    * their partition, vs the round-2 row_number window that shuffled
    * all of them on vec_id (same argmax + smallest-cid tiebreak). */
  private def assign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .withColumn("score", round(VectorOps.dot(col("v"), col("cv")), 9))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(negate(col("score")), col("cid"))).as("cid"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("cid"))

  /** One update step: exact-decimal per-dimension mean via the native
    * [[graft.expressions.VecDecimalSumAgg]] aggregate — one pass over the
    * vectors, one partial buffer per (cid × partition) through the
    * shuffle, identical values to the posexplode + decimal-agg shape
    * it replaced (r15: the explode materialized n·d rows and paid a
    * per-ELEMENT hash probe; VecDecimalSumSpec pins bit-equality).
    * The divide-by-count and round(…, 9) remain the same Catalyst
    * expressions the explode shape applied per (cid, i) group. */
  private def update(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid"))
      .agg(graft.expressions.VecDecimalSumAgg.sumCastDouble(col("v")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cid"),
        transform(col("s"), x => round(x / col("n"), 9)).as("cv"),
        col("n"))

  /** Fitted model after [[Iters]] iterations: (cid, cv, n). Every
    * round reads the vectors, so they are cached for the fit and
    * dropped once its pinned centroids hold the answer. */
  def fit(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.cached(vectors(spark, sfDir))(fitOn)

  /** [[fit]] over `vecs`, which the caller caches. */
  private def fitOn(vecs: DataFrame): DataFrame = {
    var centroids = vecs.filter(col("vec_id") < K)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
    for (_ <- 1 to Iters)
      centroids = Materialize.advance(centroids, update(assign(vecs, centroids))
        .select(col("cid"), col("cv"), col("n")))
    centroids
  }

  /** q41: cluster summary — sizes + first centroid component. */
  def clusterSummary(spark: SparkSession, sfDir: String): DataFrame =
    fit(spark, sfDir)
      .select(col("cid"), col("n"),
        round(element_at(col("cv"), 1), 6).as("c0"))
      .orderBy(col("cid"))

  private val assignSql = (src: String, cents: String) =>
    s"""SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ROUND(list_dot_product(e.v, c.cv), 9) DESC, c.cid) AS rn
       |    FROM $src e CROSS JOIN $cents c)
       |  WHERE rn = 1""".stripMargin

  private val updateSql = (assigned: String) =>
    s"""SELECT cid, list(m ORDER BY i) AS cv, MAX(nn) AS n FROM (
       |    SELECT cid, i,
       |      ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 9) AS m,
       |      COUNT(*) AS nn
       |    FROM $assigned CROSS JOIN generate_series(1, 64) AS t(i)
       |    GROUP BY cid, i)
       |  GROUP BY cid""".stripMargin

  /** The two Lloyd iterations unrolled as CTEs. */
  val modelCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < $K),
      |a1 AS (${assignSql("e", "c0")}),
      |c1 AS (${updateSql("a1")}),
      |a2 AS (${assignSql("e", "c1")}),
      |c2 AS (${updateSql("a2")})""".stripMargin

  val clusterSummarySql: String =
    s"""WITH $modelCtes
      |SELECT cid, n, ROUND(cv[1], 6) AS c0
      |FROM c2 ORDER BY cid""".stripMargin

  /** q42: learned-IVF ANN — probe the nprobe=2 nearest fitted
    * centroids, exact search only inside those clusters. */
  def knnIvfKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    // the answer reads the vectors after the fit, so their cache stays
    val vecs = vectors(spark, sfDir).cache()
    val model = fitOn(vecs)
    val assigned = assign(vecs, model.select(col("cid"), col("cv")))
    val q = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val probed = q.crossJoin(broadcast(model.select(col("cid"), col("cv"))))
      .withColumn("cscore", round(VectorOps.dot(col("qv"), col("cv")), 9))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cscore").desc, col("cid"))))
      .filter(col("crank") <= 2)
      .select(col("q_id"), col("qv"), col("cid"))
    probed.join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.dot(col("v"), col("qv")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  // -----------------------------------------------------------------
  // Learned IVF at REFERENCE width: the same train → assign → probe
  // loop over the 1024-d document corpus. Assignment is true-L2
  // (the stored vectors are not unit norm — quirk Q1 — so max-dot is
  // NOT min-distance here), with the self-dots hoisted once per side
  // and the per-vector argmin as a map-side min_by; re-centering is
  // the posexplode + one-decimal-agg shape (a 1024-wide aggregate
  // column list costs seconds of codegen). Completes the 1024-d ANN
  // family: brute force (q26), banded LSH (q27), PQ (q67), IVF (q79).
  // -----------------------------------------------------------------

  val DocK = 10
  val DocIters = 2
  val NProbe = 2

  /** Production `lists` analog (VERDICT r12 #4): the doc-model K
    * grows with the corpus so |cluster| stays ~bounded and every
    * per-cluster O(|c|²) pair stage or per-cid window sort stays
    * flat per document — `ProbeSemDedupK` measured the collapse of
    * fixed K=10 at 30× (10-key SMJ skew >25 min) vs K=300 at 206 s.
    * K = max(DocK, n/DocsPerCluster), the same evaluates-to-the-
    * gate-constant trick as [[Planted.familyOffset]]: 500 docs
    * (sf0.01) → 10, 5000 docs (sf0.1) → 10, so both declared gates
    * keep K = DocK and every oracle hash is unchanged; staged 10×/
    * 30× corpora get K = 100/300. */
  val DocsPerCluster = 500

  private[graft] def adaptiveDocKOf(n: Long): Int =
    math.max(DocK, (n / DocsPerCluster).toInt)

  /** Corpus-derived K over an already-staged vector corpus (spec /
    * probe entry — the declared path gets the count for free from
    * [[docVectorsWithCount]]'s observation instead). */
  private[graft] def adaptiveDocK(vecs: DataFrame): Int =
    adaptiveDocKOf(vecs.count())

  /** Staged 1024-d corpus plus its row count, the count OBSERVED
    * from the eager-checkpoint materialization job itself — the
    * adaptive-K rule needs |corpus|, and a separate count() was an
    * extra job on the suite's hottest shared subtree (r13 VERDICT
    * #3; MaterializeSpec pins that the metric fires from the eager
    * pin's own job). */
  private[graft] def docVectorsWithCount(spark: SparkSession,
      sfDir: String): (DataFrame, Long) = {
    val (vecs, n) = Materialize.pinCounted(Corpus.docEmbeddings(spark, sfDir))
    (vecs.withColumn("xx", VectorOps.dot(col("v"), col("v"))), n)
  }

  private[graft] def docVectors(spark: SparkSession, sfDir: String): DataFrame =
    Corpus.docEmbeddings(spark, sfDir).pin()
      .withColumn("xx", VectorOps.dot(col("v"), col("v")))

  private def d2c(xx: Column, x: Column, c: Column, cc: Column): Column =
    round(xx - lit(2.0) * VectorOps.dot(x, c) + cc, 9)

  /** Relational assignment — kept as the parity REFERENCE shape (one
    * row per (vector, centroid) through a broadcast join + min_by).
    * NearestCentroidSpec pins [[assignDoc]] ≡ this on real corpora;
    * the production path below avoids the n·K payload blowup. */
  private[graft] def assignDocRelational(vecs: DataFrame,
      cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dist", d2c(col("xx"), col("v"), col("cv"), col("cc")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"),
        first(col("v")).as("v"), first(col("xx")).as("xx"))

  /** Assignment via the native [[graft.expressions.NearestCentroid]]
    * argmin: the K centroids collapse to ONE broadcast row carrying
    * the centroid array, each vector row scans it in a generated-code
    * loop, and exactly one row per vector leaves the stage — no n·K
    * joined-row traffic, which is what makes K ∝ corpus (the
    * production SemDeDup/ivfflat operating point) affordable.
    * Bit-identical to [[assignDocRelational]] by the expression's
    * parity contract. */
  private[graft] def assignDoc(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents
      .agg(collect_list(struct(col("cid"), col("cv"), col("cc"))).as("cents"))
    vecs.crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        graft.expressions.NearestCentroid.nearestCentroid(
          col("v"), col("xx"), col("cents")).as("cid"),
        col("v"), col("xx"))
  }

  private[graft] def updateDoc(assigned: DataFrame): DataFrame =
    updateDocBy(assigned, Seq("cid"))

  /** Re-centering keyed by an arbitrary cluster key (the tree path
    * re-centers by (c1, c2)) via the native
    * [[graft.expressions.VecDecimalSumAgg]] aggregate: one pass, one
    * partial buffer per (key × partition), no n·d explode — values
    * bit-identical to the explode shape (VecDecimalSumSpec), whose
    * per-element decimal hash-agg was the measured hot block of every
    * 1024-d Lloyd pass (1.7 s/pass at sf0.1). */
  private[graft] def updateDocBy(assigned: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    assigned.groupBy(kc: _*)
      .agg(graft.expressions.VecDecimalSumAgg.sumCastDouble(col("v")).as("s"),
        count(lit(1)).as("n"))
      .select(kc :+
        transform(col("s"), x => round(x / col("n"), 9)).as("cv") :+
        col("n"): _*)
      .withColumn("cc", VectorOps.dot(col("cv"), col("cv")))
  }

  /** The pre-r15 posexplode formulation of [[updateDocBy]] — parity
    * REFERENCE for VecDecimalSumSpec's bit-equality gate. */
  private[graft] def updateDocByExplode(assigned: DataFrame,
      keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    assigned.select(kc :+ posexplode(col("v")).as(Seq("i", "x")): _*)
      .groupBy(kc :+ col("i"): _*)
      .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 9).as("m"),
        count(lit(1)).as("nn"))
      .groupBy(kc: _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("cv"),
        max(col("nn")).as("n"))
      .withColumn("cc", VectorOps.dot(col("cv"), col("cv")))
  }

  /** The Lloyd loop over an already-staged vector corpus. */
  private def fitVecs(vecs: DataFrame): DataFrame = fitVecsK(vecs, DocK)

  /** K-parameterized Lloyd loop — the declared queries pin K =
    * [[DocK]] (oracle parity), while scale probes drive K ∝ corpus,
    * the production knob that keeps Σ|cluster|² linear (see
    * [[SemDedup]]/[[graft.tools.ProbeSemDedupK]]). */
  private[graft] def fitVecsK(vecs: DataFrame, k: Int,
      spreadSeeds: Boolean = false): DataFrame = {
    // Declared queries seed first-k (oracle-replayable); the probe
    // path spreads seeds evenly across the id range — first-k seeds
    // on a staged multi-copy corpus all land in copy 0 and Lloyd
    // cannot escape (measured: one catch-all cluster holding most of
    // the corpus, which re-quadratizes the pair stage).
    var cents = (if (spreadSeeds) {
      // stride arithmetic assumes dense vec_ids from 0 (the corpus /
      // probe-staging contract): empty corpus NPE'd on max() and
      // gapped ids silently seeded < k centroids (r12 ADVICE). Guard
      // both loudly — a global row_number would repair gaps but costs
      // a single-partition sort, the wrong trade on the probe path.
      val nRow = vecs.agg(count(lit(1)).as("cnt"), max(col("vec_id")).as("mx")).head
      require(nRow.getLong(0) > 0, "fitVecsK(spreadSeeds): empty corpus")
      val n = nRow.getLong(1) + 1
      require(n >= k, s"fitVecsK(spreadSeeds): max vec_id+1 = $n < k=$k")
      val stride = math.max(1L, n / k)
      val seeds = vecs
        .filter(col("vec_id") % stride === 0 && col("vec_id") / stride < k)
        .select((col("vec_id") / stride).cast("int").as("cid"),
          col("v").as("cv"), col("xx").as("cc"))
        .pin()
      val got = seeds.count()
      require(got == k, s"fitVecsK(spreadSeeds): seeded $got/$k centroids — " +
        "vec_ids are not dense from 0 (gapped ids land between strides)")
      seeds
    } else vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"),
        col("v").as("cv"), col("xx").as("cc")))
    // barrier between assign and re-center: updateDoc's posexplode
    // sits in the same codegen pipeline as the assignment project,
    // and GenerateExec re-evaluates deferred child expressions PER
    // exploded element — 1024× the K·d argmin per vector (measured
    // 2.4× the whole stage at sf0.01). The narrow (cid, v) pin fixes
    // the cid once per vector; it and the superseded centroids are
    // released once the new centroids are pinned.
    for (_ <- 1 to DocIters)
      cents = Materialize.using(assignDoc(vecs, cents)
        .select(col("cid"), col("v")))(
        assigned => Materialize.advance(cents, updateDoc(assigned)))
    cents
  }

  /** Fitted 1024-d model: (cid, cv, cc, n). */
  def fitDocs(spark: SparkSession, sfDir: String): DataFrame =
    fitVecs(docVectors(spark, sfDir))

  /** Fit + final assignment over ONE featurize/checkpoint pass —
    * `(model(cid, cv, cc), assigned(vec_id, v, xx, cid))`. The
    * composition consumers (q100, q229) were paying the corpus
    * featurize and the whole Lloyd loop twice by calling
    * [[docAssignments]]-then-[[fitDocs]] separately; this stages the
    * corpus once and reuses the checkpointed model for both. */
  private[graft] def docModelAndAssignments(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    // K ∝ corpus (see [[adaptiveDocK]]). At the gate constant the fit
    // is the exact first-k-seeded Lloyd the oracle replays; above it
    // (probe/production corpora only) the flat Lloyd's n·K·d argmin
    // goes quadratic under K ∝ n, so the fit switches to the
    // two-level centroid tree ([[fitVecsTree]] — the r13 probe
    // breakdown: x30 fit_assign 161 s of q229's 163 s, ~79 s of it
    // the K-term; the tree cuts that term ~K/(B1+3·B2) ≈ 12× at
    // K=300).
    val (vecs, n) = docVectorsWithCount(spark, sfDir)
    val k = adaptiveDocKOf(n)
    if (k == DocK) docModelOver(vecs, k, spreadSeeds = false)
    else fitVecsTree(vecs, k)
  }

  /** Flat-Lloyd's K-term goes quadratic under K ∝ n; the tree keeps
    * per-doc argmin work at ~(1 + 3(M−1))·K^(1/M). The depth
    * break-even is MEASURED, not modeled (r14, x60 staged corpus,
    * n = 300k, K = 600): 2 levels fit in 213.7 s, 3 levels in 398 s
    * calm-clock — each extra level costs one more full n·B·d routing
    * pass plus DocIters full-corpus n·d explode re-centers and
    * checkpoints (~185 s/level here), which at K = 600 dwarfs the
    * ~40% per-doc argmin saving (97 → 60 units). Depth pays only
    * once the 2-level argmin term 4·√K·d itself outgrows that fixed
    * per-level cost: √K ≳ 90, i.e. K ≈ 8k (n ≈ 4M docs at
    * DocsPerCluster = 500) — hence this threshold. Beyond it the
    * rule would deepen further (levels ~ log K for bounded branch),
    * with the same measured-constant discipline deciding each step. */
  val TreeDepth2MaxK = 8192

  /** Tree depth for a given K — the declared gates never reach here
    * (K = DocK pins the flat exact loop); probes/production deepen
    * with K. */
  private[graft] def treeLevels(k: Int): Int =
    if (k <= TreeDepth2MaxK) 2 else 3

  /** Multi-level k-means tree — the scalable K ∝ corpus fit (faiss
    * trains IVF coarse quantizers the same way: sample-fit the
    * levels, route every vector through the tree). Level 1:
    * B1 = ⌈K^(1/M)⌉ coarse cells, Lloyd-fit on a bounded
    * deterministic stride sample (training cost independent of n),
    * then ONE full n·B1·d routing pass. Each later level ℓ: ⌈Bℓ⌉
    * centroids per group, stride-seeded from the group's own
    * members, [[DocIters]] Lloyd passes at n·Bℓ·d each (the
    * per-group centroid array rides a bounded broadcast join on the
    * group id — the corpus itself never shuffles); non-final levels
    * route the corpus onward by packing the refined id into the
    * group key. Total argmin work n·(B1 + (DocIters+1)·ΣBℓ)·d vs
    * the flat loop's (DocIters+1)·n·K·d; re-center explodes stay
    * n·d per pass, same as flat. Leaf id packs positionally
    * (…(c1·B2 + c2)·B3 + c3…). The per-group model join shuffles on
    * the group id instead of broadcasting once the model outgrows
    * the broadcast budget. Probe/production only — the declared
    * gates pin K = DocK and never enter this path; q235 pins the
    * 2-level construction against a full DuckDB replay at gate K. */
  private[graft] def fitVecsTree(vecs: DataFrame, k: Int): (DataFrame, DataFrame) =
    fitVecsTreeM(vecs, k, treeLevels(k))

  private[graft] def fitVecsTreeM(vecs: DataFrame, k: Int,
      levels: Int): (DataFrame, DataFrame) = {
    require(levels >= 2, s"fitVecsTreeM: levels=$levels")
    // branch plan: geometric split of the remainder, last level
    // absorbs the ceiling — [4, 3] at (K=10, M=2), [18, 17] at 306,
    // [9, 9, 8] at (600, 3)
    val bs = Array.ofDim[Int](levels)
    var rem = k
    for (l <- 0 until levels - 1) {
      bs(l) = math.max(2,
        math.ceil(math.pow(rem.toDouble, 1.0 / (levels - l))).toInt)
      rem = math.max(1, math.ceil(rem.toDouble / bs(l)).toInt)
    }
    bs(levels - 1) = rem
    val b1 = bs(0)
    val span = vecs.agg(max(col("vec_id"))).head.getLong(0) + 1
    // level 1: relabel a stride sample with dense rank ids and reuse
    // the spread-seeded flat loop (its density guards apply verbatim)
    val sampleTarget = math.max(50L * b1, 2000L)
    val sStride = math.max(1L, span / sampleTarget)
    val sample = vecs.filter(col("vec_id") % sStride === 0)
      .select(floor(col("vec_id") / sStride).cast("long").as("vec_id"),
        col("v"), col("xx"))
      .pin()
    val l1 = fitVecsK(sample, b1, spreadSeeds = true)
      .select(col("cid"), col("cv"), col("cc"))
    // one full routing pass (n·B1·d), pinned: feeds seeding, every
    // Lloyd pass, and the next level's routing. It supersedes the
    // sample and the level-1 centroids, and each level's routing
    // supersedes the last level's and its centroids.
    var coarse = Materialize.advance(sample, assignDoc(vecs, l1)
      .select(col("vec_id"), col("cid").cast("long").as("g"),
        col("v"), col("xx")))
    Materialize.release(l1)
    var cents: DataFrame = null
    for (l <- 1 until levels - 1) {
      cents = refineLevel(coarse, bs(l), span)
      coarse = Materialize.advance(coarse, assignWithinGroups(coarse, cents)
        .select(col("vec_id"), (col("g") * bs(l) + col("c")).as("g"),
          col("v"), col("xx")))
      Materialize.release(cents)
    }
    val bLast = bs(levels - 1)
    cents = refineLevel(coarse, bLast, span)
    val leafId = (col("g") * bLast + col("c")).cast("int").as("cid")
    val model = cents.select(leafId, col("cv"), col("cc"))
    val assigned = assignWithinGroups(coarse, cents)
      .select(col("vec_id"), leafId, col("v"), col("xx"))
    (model, assigned)
  }

  /** Sub-partition count for the seeding rank (r14 VERDICT #3): the
    * within-cell rank previously ran one sort partition PER CELL, so
    * at the gate's B1 = 4 the stage used 4 of 32 cores — the measured
    * x30→x60 super-linearity in q235's ladder. Banding by vec_id
    * RANGE (not hash: rank composes across bands only when band
    * boundaries are monotone in the sort key) splits each cell's rank
    * into ~this many independent sorts plus a bounded offset join. */
  private val SeedRankBands = 32

  /** One tree level: seed ⌈b⌉ centroids per group by within-group
    * vec_id-rank stride, then [[DocIters]] within-group Lloyd
    * passes. The rank runs over a PAYLOAD-FREE (g, vec_id)
    * projection — the full corpus re-shuffled by group with 8 KB
    * vectors into few sort partitions was the first tree draft's own
    * bottleneck — and is computed BANDED: row_number within
    * (g, vec_id-range band) + the cell's cumulative earlier-band
    * count (a ≤ cells × [[SeedRankBands]]-row broadcast), so the
    * sort parallelism is cells × bands instead of cells even at
    * B1 = 4 (r14 VERDICT #3; the composed rank is value-identical
    * because band boundaries are monotone in vec_id). The chosen
    * seed ids then fetch their vectors via a broadcast join.
    * Returns (g, c, cv, cc, n). */
  private def refineLevel(coarse: DataFrame, b: Int, span: Long): DataFrame = {
    // power-of-two band width: band = vec_id >> shift is an exact
    // integer op (no float division anywhere near the seed choice)
    val shift = 63 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, span / SeedRankBands))
    val banded = coarse.select(col("g"), col("vec_id"),
      shiftright(col("vec_id"), shift).as("band"))
    val bandCnt = banded.groupBy(col("g"), col("band"))
      .agg(count(lit(1)).as("bn"))
    val offW = Window.partitionBy(col("g")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandCnt // ≤ cells × bands rows — bounded
      .withColumn("off", coalesce(sum(col("bn")).over(offW), lit(0L)))
      .select(col("g"), col("band"), col("off"))
    val cellN = bandCnt.groupBy(col("g")).agg(sum(col("bn")).as("cn"))
    val localW = Window.partitionBy(col("g"), col("band"))
      .orderBy(col("vec_id"))
    val seedIds = banded
      .withColumn("rn",
        row_number().over(localW).cast("long") - 1)
      .join(broadcast(offsets), Seq("g", "band"))
      .withColumn("rn", col("rn") + col("off"))
      .join(broadcast(cellN), Seq("g")) // ≤ K/b rows — bounded
      .withColumn("cstride",
        greatest(lit(1L), floor(col("cn") / b).cast("long")))
      .filter(col("rn") % col("cstride") === 0
        && col("rn") / col("cstride") < b)
      .select(col("vec_id"),
        floor(col("rn") / col("cstride")).cast("int").as("c"))
    var cents = coarse
      .join(broadcast(seedIds), Seq("vec_id")) // ≈K rows — bounded
      .select(col("g"), col("c"), col("v").as("cv"), col("xx").as("cc"))
      .pin()
    for (_ <- 1 to DocIters)
      cents = Materialize.using(assignWithinGroups(coarse, cents)
        .select(col("g"), col("c"), col("v")))(
        assigned => Materialize.advance(cents, updateDocBy(assigned, Seq("g", "c"))))
    cents
  }

  /** Per-group argmin: the level's centroids collapse to one array
    * row PER GROUP (bounded rows), broadcast-joined on g — each
    * vector scans only its own group's ≤b centroids in the native
    * generated loop. */
  private def assignWithinGroups(coarse: DataFrame,
      cents: DataFrame): DataFrame = {
    val perCell = cents.groupBy(col("g"))
      .agg(collect_list(struct(col("c").as("cid"), col("cv"), col("cc")))
        .as("cents"))
    coarse.join(broadcast(perCell), Seq("g"))
      .select(col("vec_id"), col("v"), col("xx"), col("g"),
        graft.expressions.NearestCentroid.nearestCentroid(
          col("v"), col("xx"), col("cents")).as("c"))
  }

  /** K-parameterized variant — probe-only (the declared path derives
    * K itself via [[adaptiveDocK]]). */
  private[graft] def docModelAndAssignmentsK(spark: SparkSession,
      sfDir: String, k: Int, spreadSeeds: Boolean = false): (DataFrame, DataFrame) =
    docModelOver(docVectors(spark, sfDir), k, spreadSeeds)

  private def docModelOver(vecs: DataFrame, k: Int,
      spreadSeeds: Boolean): (DataFrame, DataFrame) = {
    val model = fitVecsK(vecs, k, spreadSeeds)
      .select(col("cid"), col("cv"), col("cc"))
    (model, assignDoc(vecs, model))
  }

  /** Final 1024-d cluster assignment (vec_id, v, xx, cid) under the
    * fitted doc model — the clustering consumers build on (q100
    * SemDeDup shares the exact q79 training loop). */
  def docAssignments(spark: SparkSession, sfDir: String): DataFrame =
    docModelAndAssignments(spark, sfDir)._2

  /** q79: learned-IVF ANN at 1024-d — probe the [[NProbe]] nearest
    * lists by true L2, exact cosine only inside them. */
  def knnIvf1024(spark: SparkSession, sfDir: String): DataFrame = {
    // one staged corpus + one fit (the q229/q100 fix applied here
    // too — the old shape re-featurized the corpus inside fitDocs);
    // the queries project straight off the assignment, which carries
    // (vec_id, v, xx)
    val (cents, assigned) = docModelAndAssignments(spark, sfDir)
    knnIvfTop3(cents, assigned)
  }

  /** The IVF probe over an arbitrary fitted `(cents, assigned)` pair
    * — [[NProbe]] nearest lists by rounded true L2, exact rounded-6
    * cosine inside them, per-query top-3 with id tiebreaks. Shared by
    * q79 (flat gate model, 3 serving queries) and q239 (both models,
    * [[AuditQueries]] queries at the same probe budget). */
  private def knnIvfTop3(cents: DataFrame, assigned: DataFrame,
      nQueries: Int = 3, nProbe: Int = NProbe): DataFrame = {
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("xx").as("qxx"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("cdist", d2c(col("qxx"), col("qv"), col("cv"), col("cc")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cdist"), col("cid"))))
      .filter(col("crank") <= nProbe)
      .select(col("q_id"), col("qv"), col("qxx"), col("cid"))
    val denom = sqrt(col("xx")) * sqrt(col("qxx"))
    probed.join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(when(denom === 0.0, lit(0.0))
        .otherwise(VectorOps.dot(col("v"), col("qv")) / denom), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private def d2Sql(xx: String, x: String, c: String, cc: String) =
    s"ROUND($xx - 2 * list_dot_product($x, $c) + $cc, 9)"

  /** True-L2 argmin assignment over `$src(vec_id, v, xx)` against
    * `$cents(cid, cv, cc)` — the SQL twin of [[assignDoc]] (rounded-9
    * distance, cid tiebreak). */
  private def assignDocSql(cents: String, src: String = "docv") =
    s"""SELECT vec_id, v, xx, cid FROM (
       |    SELECT e.vec_id, e.v, e.xx, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2Sql("e.xx", "e.v", "c.cv", "c.cc")}, c.cid) AS rn
       |    FROM $src e CROSS JOIN $cents c)
       |  WHERE rn = 1""".stripMargin

  /** Exact-decimal per-dim re-centering keyed by `keys` — the SQL
    * twin of [[updateDocBy]]. */
  private def updateDocSql(assigned: String, keys: Seq[String] = Seq("cid")) = {
    val ks = keys.mkString(", ")
    s"""SELECT $ks, cv, list_dot_product(cv, cv) AS cc, n FROM (
       |    SELECT $ks, list(m ORDER BY i) AS cv, MAX(nn) AS n FROM (
       |      SELECT $ks, i,
       |        ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 9) AS m,
       |        COUNT(*) AS nn
       |      FROM $assigned CROSS JOIN generate_series(1, 1024) AS t(i)
       |      GROUP BY $ks, i)
       |    GROUP BY $ks)""".stripMargin
  }

  /** The 1024-d train→assign pipeline as shared CTEs (`docv`,
    * `model`, `assigned`) — the SQL twin of [[docAssignments]],
    * reused by q79 and q100. */
  val docModelCtes: String = {
    val lloyd = (1 to DocIters).map { i =>
      val prev = if (i == 1) "dc0" else s"dc${i - 1}"
      s"""da$i AS (${assignDocSql(prev)}),
         |dc$i AS MATERIALIZED (
         |  ${updateDocSql(s"da$i")})""".stripMargin
    }.mkString(",\n")
    s"""${Corpus.docEmbCte},
      |docv AS MATERIALIZED (
      |  SELECT vec_id, v, list_dot_product(v, v) AS xx FROM demb),
      |dc0 AS (
      |  -- GATE-ONLY parity: every declared gate corpus (sf <= 0.1)
      |  -- keeps adaptiveDocK at the DocK constant, so the oracle
      |  -- replays the exact first-K-seeded flat Lloyd Spark runs
      |  -- there.  Above the gate Spark switches to the two-level
      |  -- tree (fitVecsTree), whose oracle rendering lives in
      |  -- docTreeCtes (q235) — an adaptive-K branch here would model
      |  -- a flat stride-seeded fit Spark never executes (r13 ADVICE).
      |  SELECT CAST(vec_id AS INT) AS cid, v AS cv, xx AS cc
      |  FROM docv WHERE vec_id < $DocK),
      |$lloyd,
      |model AS (SELECT cid, cv, cc FROM dc$DocIters),
      |assigned AS (${assignDocSql("model")})""".stripMargin
  }

  /** The q79 probe/score/rank tail over in-scope `docv`, `model`,
    * `assigned` CTEs — shared verbatim by the declared gate oracle
    * and the ×10 tree-prefix rendering. */
  private val knnIvf1024Tail: String =
    s"""q AS (SELECT vec_id AS q_id, v AS qv, xx AS qxx
      |      FROM docv WHERE vec_id < 3),
      |probed AS (
      |  SELECT q_id, qv, qxx, cid FROM (
      |    SELECT q.q_id, q.qv, q.qxx, m.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id
      |        ORDER BY ${d2Sql("q.qxx", "q.qv", "m.cv", "m.cc")}, m.cid) AS crank
      |    FROM q CROSS JOIN model m)
      |  WHERE crank <= $NProbe),
      |scored AS (
      |  SELECT p.q_id, a.vec_id,
      |    ROUND(CASE WHEN sqrt(a.xx) * sqrt(p.qxx) = 0 THEN 0.0
      |          ELSE list_dot_product(a.v, p.qv) / (sqrt(a.xx) * sqrt(p.qxx)) END, 6) AS sim
      |  FROM probed p JOIN assigned a ON a.cid = p.cid
      |  WHERE a.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS n_id, sim
      |FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  val knnIvf1024Sql: String =
    s"WITH $docModelCtes,\n$knnIvf1024Tail"

  /** q79's oracle at a staged corpus's adaptive K (tree path) — the
    * ×10 harness rendering. */
  private[graft] def knnIvf1024TreeSqlAt(k: Int): String =
    s"WITH ${docTreeModelCtesAt(k)},\n$knnIvf1024Tail"

  val knnIvfKmeansSql: String =
    s"""WITH $modelCtes,
      |model AS (SELECT cid, cv FROM c2),
      |assigned AS (${assignSql("e", "model")}),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
      |probed AS (
      |  SELECT q_id, qv, cid FROM (
      |    SELECT q.q_id, q.qv, m.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id
      |        ORDER BY ROUND(list_dot_product(q.qv, m.cv), 9) DESC, m.cid) AS crank
      |    FROM q CROSS JOIN model m)
      |  WHERE crank <= 2),
      |scored AS (
      |  SELECT p.q_id, a.vec_id,
      |    ROUND(list_dot_product(a.v, p.qv), 6) AS sim
      |  FROM probed p JOIN assigned a ON a.cid = p.cid
      |  WHERE a.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS n_id, sim
      |FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // -----------------------------------------------------------------
  // q235: the two-level tree fit under an oracle. [[fitVecsTree]] is
  // the PRODUCTION doc-model path (it engages whenever adaptiveDocK
  // rises above the gate constant), but until this query its only
  // coverage was spec-level (KMeansTreeSpec) — no CORRECTNESS row
  // exercised it (r13 VERDICT #4). This query forces the tree at
  // K = DocK on the gate corpus and pins BOTH halves of its output:
  // the model (first centroid component per leaf) and the full
  // assignment (member count + vec_id checksum per leaf), against a
  // DuckDB replay of the same two-level construction.
  // -----------------------------------------------------------------

  /** q235: tree-fit cluster summary — count, vec_id checksum, and
    * first centroid component per leaf, leaves ordered. */
  def treeSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = docVectors(spark, sfDir)
    val (model, assigned) = fitVecsTree(vecs, DocK)
    Materialize.release(vecs) // the answer reads the leaf level only
    val agg = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
    // `+ 0.0` pins the zero sign across engines (the q234 lesson): a
    // centroid dimension can average to a tiny negative that ROUNDs
    // to a signed zero, and the driver hashes bits
    agg.join(model.select(col("cid"),
        (round(element_at(col("cv"), 1), 6) + lit(0.0)).as("c0")), Seq("cid"))
      .select(col("cid"), col("n"), col("id_sum"), col("c0"))
      .orderBy(col("cid"))
  }

  // gate-K branch plan: fitVecsTreeM's geometric split at
  // (K = DocK, M = 2) — ⌈√10⌉ = 4, ⌈10/4⌉ = 3 (KMeansTreeSpec pins
  // the closed form's agreement with the loop)
  private[graft] val TreeB1 = treeBranchAt(DocK)._1
  private[graft] val TreeB2 = treeBranchAt(DocK)._2

  /** fitVecsTreeM's geometric branch split at (k, M = 2), closed
    * form — ⌈√k⌉ and ⌈k/b1⌉ (KMeansTreeSpec pins the agreement with
    * the loop). */
  private[graft] def treeBranchAt(k: Int): (Int, Int) = {
    val b1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    (b1, math.max(1, math.ceil(k.toDouble / b1).toInt))
  }

  /** The [[fitVecsTree]] construction at an arbitrary 2-level K as
    * reusable CTEs over an in-scope `docv(vec_id, v, xx)`: stride
    * sample → spread-seeded L1 Lloyd (B1 cells) → one full coarse
    * routing → within-cell-rank stride seeds → per-cell L2 Lloyd
    * (B2 each) → `tfin` (final within-cell assignment) +
    * `tmodel(cid, cv, cc)` with leaf id c1·B2 + c2. The declared
    * gates render it at K = [[DocK]] ([[treeFitCtes]], q235/q239);
    * the ×10 scale-verification harness renders it at the staged
    * corpus's [[adaptiveDocKOf]] — the K the Spark side actually
    * runs there — so answers above the gate are hash-checkable too
    * (r14 VERDICT #1). */
  private[graft] def treeFitCtesAt(k: Int): String = {
    val (b1, b2) = treeBranchAt(k)
    val sampleTarget = math.max(50L * b1, 2000L)
    // within-cell argmin: candidates restricted to the vector's OWN
    // coarse cell (join on c1), tiebreak by c2 — the SQL twin of
    // assignWithinGroups
    def assignCellSql(cents: String) =
      s"""SELECT c1, vec_id, v, xx, c2 FROM (
         |    SELECT e.c1, e.vec_id, e.v, e.xx, c.c2,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${d2Sql("e.xx", "e.v", "c.cv", "c.cc")}, c.c2) AS rn
         |    FROM tcoarse e JOIN $cents c ON c.c1 = e.c1)
         |  WHERE rn = 1""".stripMargin
    val l1Lloyd = (1 to DocIters).map { i =>
      val prev = if (i == 1) "tl0" else s"tl${i - 1}"
      s"""tsa$i AS (${assignDocSql(prev, src = "tsamp")}),
         |tl$i AS MATERIALIZED (
         |  ${updateDocSql(s"tsa$i")})""".stripMargin
    }.mkString(",\n")
    val l2Lloyd = (1 to DocIters).map { i =>
      val prev = if (i == 1) "tc0" else s"td${i - 1}"
      s"""tb$i AS (${assignCellSql(prev)}),
         |td$i AS MATERIALIZED (
         |  ${updateDocSql(s"tb$i", keys = Seq("c1", "c2"))})""".stripMargin
    }.mkString(",\n")
    s"""tsamp AS MATERIALIZED (
      |  SELECT vec_id // st AS vec_id, v, xx
      |  FROM docv, (SELECT GREATEST(1, (MAX(vec_id) + 1) // $sampleTarget) AS st
      |              FROM docv)
      |  WHERE vec_id % st = 0),
      |tl0 AS (
      |  SELECT CAST(vec_id // st AS INT) AS cid, v AS cv, xx AS cc
      |  FROM tsamp, (SELECT GREATEST(1, (MAX(vec_id) + 1) // $b1) AS st
      |               FROM tsamp)
      |  WHERE vec_id % st = 0 AND vec_id // st < $b1),
      |$l1Lloyd,
      |tcoarse AS MATERIALIZED (
      |  SELECT vec_id, v, xx, cid AS c1
      |  FROM (${assignDocSql(s"tl$DocIters")})),
      |tseed AS (
      |  SELECT r.vec_id, r.c1, CAST(r.rn // s.cstride AS INT) AS c2
      |  FROM (SELECT vec_id, c1,
      |          ROW_NUMBER() OVER (PARTITION BY c1 ORDER BY vec_id) - 1 AS rn
      |        FROM tcoarse) r
      |  JOIN (SELECT c1, GREATEST(1, COUNT(*) // $b2) AS cstride
      |        FROM tcoarse GROUP BY c1) s USING (c1)
      |  WHERE r.rn % s.cstride = 0 AND r.rn // s.cstride < $b2),
      |tc0 AS (
      |  SELECT c.c1, s.c2, c.v AS cv, c.xx AS cc
      |  FROM tcoarse c JOIN tseed s ON s.vec_id = c.vec_id),
      |$l2Lloyd,
      |tfin AS (${assignCellSql(s"td$DocIters")}),
      |tmodel AS (
      |  SELECT CAST(c1 * $b2 + c2 AS INT) AS cid, cv, cc
      |  FROM td$DocIters)""".stripMargin
  }

  /** The gate rendering of [[treeFitCtesAt]] (K = [[DocK]]). */
  private[graft] val treeFitCtes: String = treeFitCtesAt(DocK)

  /** The tree fit at an arbitrary K rendered under the FLAT chain's
    * CTE names (`docv`, `model`, `assigned`) — a drop-in prefix for
    * every oracle that composes [[docModelCtes]] (q79/q100/q229), so
    * the ×10 harness can hash-check those queries on corpora where
    * the Spark side has switched to the tree. */
  private[graft] def docTreeModelCtesAt(k: Int): String = {
    val (_, b2) = treeBranchAt(k)
    s"""${Corpus.docEmbCte},
      |docv AS MATERIALIZED (
      |  SELECT vec_id, v, list_dot_product(v, v) AS xx FROM demb),
      |${treeFitCtesAt(k)},
      |model AS (SELECT cid, cv, cc FROM tmodel),
      |assigned AS (
      |  SELECT vec_id, v, xx, CAST(c1 * $b2 + c2 AS INT) AS cid
      |  FROM tfin)""".stripMargin
  }

  /** DuckDB replay of [[fitVecsTree]] at K = [[DocK]]: the shared
    * [[treeFitCtes]] chain plus the per-leaf membership rollup. Every
    * step reuses the flat loop's pinned arithmetic (rounded-9 true-L2
    * argmin with id tiebreak, DECIMAL(28,12) re-center means rounded
    * 9). */
  val treeSummarySql: String =
    s"""WITH ${Corpus.docEmbCte},
      |docv AS MATERIALIZED (
      |  SELECT vec_id, v, list_dot_product(v, v) AS xx FROM demb),
      |$treeFitCtes,
      |tagg AS (
      |  SELECT CAST(c1 * $TreeB2 + c2 AS INT) AS cid, COUNT(*) AS n,
      |    CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |  FROM tfin GROUP BY 1)
      |SELECT a.cid, a.n, a.id_sum, ROUND(m.cv[1], 6) + 0.0 AS c0
      |FROM tagg a JOIN tmodel m USING (cid)
      |ORDER BY a.cid""".stripMargin

  // -----------------------------------------------------------------
  // q239: tree-model recall audit. q119 audits IVF recall on the
  // flat-Lloyd 64-d models, but the PRODUCTION 1024-d assignment
  // above the gate is the q235 tree — until this query its retrieval
  // quality had no oracle-checked number (r14 VERDICT #5). Same
  // per-query overlap-vs-brute-force shape as q119, over both the
  // flat gate model (the q79 path) and the tree model, at TWO tree
  // budgets: equal LIST budget (NProbe lists each — but the tree's
  // B1·B2 = 12 leaves make that a smaller corpus fraction than
  // NProbe of the flat model's 10 cells) and equal corpus FRACTION
  // (⌈NProbe·12/10⌉ = 3 leaves — the nprobe/nlist ratio faiss
  // equalizes when comparing coarse quantizers). Publishing both
  // makes the row self-explanatory: the measured gate-K gap at equal
  // lists is partly probe-fraction, partly the real hierarchical-
  // quantization cost (a vector is assigned within its coarse cell,
  // so leaf boundaries are worse than flat Lloyd's — the known
  // IMI/tree-quantizer trade; the production mitigation is that the
  // tree only ENGAGES at K ∝ corpus, where flat is unaffordable and
  // the probed-fraction gap vanishes as leaves grow).
  // -----------------------------------------------------------------

  /** Equal-corpus-fraction tree probe budget: ⌈NProbe · B1·B2 / K⌉. */
  private[graft] val TreeEqFracProbe: Int = math.ceil(
    NProbe.toDouble * (TreeB1 * TreeB2) / DocK).toInt

  /** Audit query count — wider than the rankers' 3-query serving
    * shape because a recall DIFFERENCE between two ANN variants is
    * the statistic under audit, and 9 neighbor slots is
    * noise-dominated for that (the same 2-probe budget swings ±2
    * hits per query with which borderline centroid ranks second). */
  val AuditQueries = 10

  /** q239: recall@3 of the flat-Lloyd IVF and the [[fitVecsTree]]
    * IVF against the exact 1024-d cosine scan, per query over
    * [[AuditQueries]] queries. Every ranker materializes once (the
    * q119 barrier lesson — without it the composed plan re-executes
    * both training loops per join side); the audit itself joins
    * three ≤3·[[AuditQueries]]-row relations. */
  def treeRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = docVectors(spark, sfDir)
    // the four ranker chains are INDEPENDENT once the corpus is
    // staged — the exact scan, the flat-Lloyd fit+probe, and the tree
    // fit+probe pair share only the checkpointed `vecs` — so their
    // many small sequential jobs overlap across driver threads
    // instead of each chain idling most cores (r15; guide §2.6).
    // Values are scheduling-independent (each thunk materializes a
    // deterministic subtree); only wall-clock interleaving changes.
    val Seq(exact, flat, treePair) = Par.run(
      () => {
        val q = vecs.filter(col("vec_id") < AuditQueries)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("xx").as("qxx"))
        val denom = sqrt(col("xx")) * sqrt(col("qxx"))
        vecs.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("sim", round(when(denom === 0.0, lit(0.0))
            .otherwise(VectorOps.dot(col("v"), col("qv")) / denom), 6))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("vec_id").as("n_id"))
          .pin() :: Nil
      },
      () => {
        val (fm, fa) = docModelOver(vecs, DocK, spreadSeeds = false)
        knnIvfTop3(fm, fa, AuditQueries)
          .select(col("q_id"), col("n_id"), lit(1L).as("hit_flat"))
          .pin() :: Nil
      },
      () => {
        val (tm, ta) = fitVecsTree(vecs, DocK)
        List(
          knnIvfTop3(tm, ta, AuditQueries)
            .select(col("q_id"), col("n_id"), lit(1L).as("hit_tree"))
            .pin(),
          knnIvfTop3(tm, ta, AuditQueries, TreeEqFracProbe)
            .select(col("q_id"), col("n_id"), lit(1L).as("hit_tree_eqf"))
            .pin())
      })
    val tree = treePair.head
    val treeEqf = treePair(1)
    exact.head.join(flat.head, Seq("q_id", "n_id"), "left")
      .join(tree, Seq("q_id", "n_id"), "left")
      .join(treeEqf, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit_flat"), lit(0L))).as("hits_flat"),
        sum(coalesce(col("hit_tree"), lit(0L))).as("hits_tree"),
        sum(coalesce(col("hit_tree_eqf"), lit(0L))).as("hits_tree_eqf"))
      .select(col("q_id"), col("k"),
        col("hits_flat"),
        round(col("hits_flat").cast("double") / col("k"), 6)
          .as("recall_flat"),
        col("hits_tree"),
        round(col("hits_tree").cast("double") / col("k"), 6)
          .as("recall_tree"),
        col("hits_tree_eqf"),
        round(col("hits_tree_eqf").cast("double") / col("k"), 6)
          .as("recall_tree_eqf"))
      .orderBy(col("q_id"))
  }

  /** The IVF probe as CTEs over in-scope `q(q_id, qv, qxx)` and a
    * `(model, assigned)` pair — the SQL twin of [[knnIvfTop3]],
    * emitted as `${pfx}probed` / `${pfx}top`. */
  private def ivfTop3Sql(model: String, assigned: String,
      pfx: String, nProbe: Int = NProbe): String =
    s"""${pfx}probed AS (
      |  SELECT q_id, qv, qxx, cid FROM (
      |    SELECT q.q_id, q.qv, q.qxx, m.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id
      |        ORDER BY ${d2Sql("q.qxx", "q.qv", "m.cv", "m.cc")}, m.cid) AS crank
      |    FROM q CROSS JOIN $model m)
      |  WHERE crank <= $nProbe),
      |${pfx}top AS (
      |  SELECT q_id, vec_id AS n_id FROM (
      |    SELECT p.q_id, a.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
      |        ROUND(CASE WHEN sqrt(a.xx) * sqrt(p.qxx) = 0 THEN 0.0
      |              ELSE list_dot_product(a.v, p.qv)
      |                / (sqrt(a.xx) * sqrt(p.qxx)) END, 6) DESC,
      |        a.vec_id) AS rank
      |    FROM ${pfx}probed p JOIN $assigned a ON a.cid = p.cid
      |    WHERE a.vec_id <> p.q_id)
      |  WHERE rank <= 3)""".stripMargin

  /** DuckDB replay of [[treeRecall]]: the flat [[docModelCtes]] chain
    * and the [[treeFitCtes]] chain over the SAME `docv`, the exact
    * cosine top-3, and both IVF probes at equal budget. */
  val treeRecallSql: String =
    s"""WITH $docModelCtes,
      |$treeFitCtes,
      |tassigned AS (
      |  SELECT vec_id, v, xx, CAST(c1 * $TreeB2 + c2 AS INT) AS cid
      |  FROM tfin),
      |q AS (SELECT vec_id AS q_id, v AS qv, xx AS qxx
      |      FROM docv WHERE vec_id < $AuditQueries),
      |exact AS (
      |  SELECT q_id, vec_id AS n_id FROM (
      |    SELECT q.q_id, d.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        ROUND(CASE WHEN sqrt(d.xx) * sqrt(q.qxx) = 0 THEN 0.0
      |              ELSE list_dot_product(d.v, q.qv)
      |                / (sqrt(d.xx) * sqrt(q.qxx)) END, 6) DESC,
      |        d.vec_id) AS rank
      |    FROM q CROSS JOIN docv d WHERE d.vec_id <> q.q_id)
      |  WHERE rank <= 3),
      |${ivfTop3Sql("model", "assigned", "f")},
      |${ivfTop3Sql("tmodel", "tassigned", "t")},
      |${ivfTop3Sql("tmodel", "tassigned", "te", TreeEqFracProbe)}
      |SELECT e.q_id, COUNT(*) AS k,
      |  CAST(SUM(COALESCE(f.hit, 0)) AS BIGINT) AS hits_flat,
      |  ROUND(CAST(SUM(COALESCE(f.hit, 0)) AS DOUBLE) / COUNT(*), 6)
      |    AS recall_flat,
      |  CAST(SUM(COALESCE(t.hit, 0)) AS BIGINT) AS hits_tree,
      |  ROUND(CAST(SUM(COALESCE(t.hit, 0)) AS DOUBLE) / COUNT(*), 6)
      |    AS recall_tree,
      |  CAST(SUM(COALESCE(te.hit, 0)) AS BIGINT) AS hits_tree_eqf,
      |  ROUND(CAST(SUM(COALESCE(te.hit, 0)) AS DOUBLE) / COUNT(*), 6)
      |    AS recall_tree_eqf
      |FROM exact e
      |LEFT JOIN (SELECT q_id, n_id, 1 AS hit FROM ftop) f
      |  ON e.q_id = f.q_id AND e.n_id = f.n_id
      |LEFT JOIN (SELECT q_id, n_id, 1 AS hit FROM ttop) t
      |  ON e.q_id = t.q_id AND e.n_id = t.n_id
      |LEFT JOIN (SELECT q_id, n_id, 1 AS hit FROM tetop) te
      |  ON e.q_id = te.q_id AND e.n_id = te.n_id
      |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
}
