package graft

import graft.ops.KMeans
import org.apache.spark.sql.functions._

/** The two-level k-means tree — the K ∝ corpus fit the adaptive
  * doc-model path takes ABOVE the declared gate constant
  * (`KMeans.fitVecsTree`; the gates themselves stay on the exact
  * first-k Lloyd, pinned by the oracle suite). The tree has no DuckDB
  * oracle, so its contract is pinned here: leaf-model consistency,
  * within-cell argmin semantics, determinism, and the gate-constant
  * floor of the adaptive K rule.
  */
class KMeansTreeSpec extends SparkSpec {

  // synthetic corpus: 12 planted centers = 4 SUPER-groups × 3
  // SUB-groups (hierarchically separated — super spacing 100 on dims
  // 0-3, sub spacing 5 on dims 4-6, jitter 0.01), 50 members each.
  // Matches the tree's own structure: level 1 must recover the
  // supers, level 2 the subs; a flat 12-center layout can legally
  // split a planted group across a coarse-cell boundary, which is
  // tree semantics, not an error.
  private val Dim = 8
  private val Centers = 12
  private val PerCenter = 50

  private lazy val vecs = {
    import spark.implicits._
    val rows = for {
      c <- 0 until Centers
      m <- 0 until PerCenter
    } yield {
      val sup = c / 3
      val sub = c % 3
      val base = Array.tabulate(Dim) { d =>
        if (d == sup) 100.0
        else if (d == 4 + sub) 5.0 * (1 + sub)
        else 0.0
      }
      val jit = Array.tabulate(Dim)(d =>
         0.01 * (((c * 131 + m * 17 + d * 7) % 19) - 9))
      val v = base.zip(jit).map { case (a, b) => a + b }.toSeq
      (c.toLong * PerCenter + m, v)
    }
    rows.toDF("vec_id", "v")
      .withColumn("xx", graft.functions.VectorOps.dot(col("v"), col("v")))
      .localCheckpoint()
  }

  test("a Lloyd fit leaves only its centroids pinned, whatever DocIters is") {
    // each iteration's n-row assignment and superseded centroids are
    // released once the next centroids are pinned
    vecs.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cents = KMeans.fitVecsK(vecs, Centers)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(KMeans.DocIters > 1, "one iteration cannot show growth")
    assert(left.size === 1, s"${left.size} pins left after ${KMeans.DocIters} iterations")
    assert(cents.count() > 0, "the returned centroids must stay readable")
  }

  test("adaptive K floors at the gate constant and scales by DocsPerCluster") {
    import spark.implicits._
    def k(n: Int): Int = KMeans.adaptiveDocK(
      (0 until n).map(i => (i.toLong, Seq(1.0))).toDF("vec_id", "v"))
    assert(k(500) == KMeans.DocK)   // sf0.01 gate
    assert(k(5000) == KMeans.DocK)  // sf0.1 gate (5000/500 = DocK exactly)
    assert(k(5500) == 11)
    assert(k(150000) == 300)        // the x30 staged corpus
  }

  test("closed-form branch plan matches fitVecsTreeM's geometric split") {
    // treeBranchAt is what the ×10 harness renders oracles with
    // (docTreeModelCtesAt at the staged corpus's adaptive K) — it
    // must track the loop's split at every K the harness can see:
    // gate 10 → [4, 3], ×10 100 → [10, 10], ×30 300 → [18, 17]
    def loopSplit(k: Int): (Int, Int) = {
      var rem = k
      val b1 = math.max(2, math.ceil(math.pow(rem.toDouble, 0.5)).toInt)
      rem = math.max(1, math.ceil(rem.toDouble / b1).toInt)
      (b1, rem)
    }
    for (k <- Seq(10, 11, 100, 300, 306, 600, 8192))
      assert(KMeans.treeBranchAt(k) == loopSplit(k), s"k=$k")
    assert(KMeans.treeBranchAt(KMeans.DocK) == (KMeans.TreeB1, KMeans.TreeB2))
  }

  test("tree: every vector lands on a leaf of the model, leaves ≈ k") {
    val (model, assigned) = KMeans.fitVecsTree(vecs, 12)
    val leaves = model.select("cid").collect().map(_.getInt(0)).toSet
    val a = assigned.select("vec_id", "cid").collect()
    assert(a.length == Centers * PerCenter)
    assert(a.map(_.getInt(1)).forall(leaves.contains))
    // k=12 → b1=4, b2=3: at least one leaf per populated cell,
    // never more than b1·b2 = 12
    assert(leaves.size >= 4 && leaves.size <= 12, s"leaves=${leaves.size}")
  }

  test("tree: assignment is the argmin over the vector's OWN cell") {
    val (model, assigned) = KMeans.fitVecsTree(vecs, 12)
    // b2 = ceil(12 / ceil(sqrt(12))) = 3 → c1 = cid / 3
    val b2 = 3
    val cents = model.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap
    val rows = assigned
      .select(col("vec_id"), col("cid"), col("v")).collect()
    rows.foreach { r =>
      val cid = r.getInt(1)
      val v = r.getSeq[Double](2).toArray
      def d2(c: Array[Double]) =
        c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      val own = d2(cents(cid))
      val cellMates = cents.filter(_._1 / b2 == cid / b2)
      cellMates.foreach { case (mid, mv) =>
        assert(own <= d2(mv) + 1e-6,
          s"vec ${r.getLong(0)}: leaf $cid (d²=$own) beaten by " +
            s"same-cell leaf $mid (d²=${d2(mv)})")
      }
    }
  }

  test("tree: separated planted centers come out pure") {
    val (_, assigned) = KMeans.fitVecsTree(vecs, 12)
    // every planted center's 50 members share one leaf (the jitter is
    // microscopic next to the 10.0 center spacing)
    val purity = assigned
      .select((col("vec_id") / PerCenter).cast("int").as("planted"), col("cid"))
      .groupBy(col("planted"))
      .agg(countDistinct(col("cid")).as("nleaf"))
      .collect().map(_.getLong(1))
    assert(purity.forall(_ == 1L), s"split planted centers: ${purity.toSeq}")
  }

  test("tree: deterministic across runs") {
    val a1 = KMeans.fitVecsTree(vecs, 12)._2
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val a2 = KMeans.fitVecsTree(vecs, 12)._2
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a1 == a2)
  }

  test("depth rule: 2 levels through the measured break-even, 3 above it") {
    assert(KMeans.treeLevels(10) == 2)
    assert(KMeans.treeLevels(306) == 2)
    // the r14 x60 probe measured 3 levels LOSING at K=600 (398 vs
    // 213.7 s — the per-level fixed cost dominates the argmin saving
    // until ~K=8k), so the whole probe band stays 2-level
    assert(KMeans.treeLevels(600) == 2)
    assert(KMeans.treeLevels(KMeans.TreeDepth2MaxK) == 2)
    assert(KMeans.treeLevels(KMeans.TreeDepth2MaxK + 1) == 3)
  }

  test("3-level tree: every vector lands on a leaf, assignment is own-path argmin") {
    val (model, assigned) = KMeans.fitVecsTreeM(vecs, 12, levels = 3)
    val cents = model.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap
    val rows = assigned.select(col("vec_id"), col("cid"), col("v")).collect()
    assert(rows.length == Centers * PerCenter)
    assert(rows.forall(r => cents.contains(r.getInt(1))))
    // branch plan [3, 2, 2] at K=12: leaf = (g2)·2 + c3 where
    // g2 = c1·2 + c2 — same-last-group mates share cid / 2
    val b3 = 2
    rows.foreach { r =>
      val cid = r.getInt(1)
      val v = r.getSeq[Double](2).toArray
      def d2(c: Array[Double]) =
        c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      val own = d2(cents(cid))
      cents.filter(_._1 / b3 == cid / b3).foreach { case (mid, mv) =>
        assert(own <= d2(mv) + 1e-6,
          s"vec ${r.getLong(0)}: leaf $cid beaten by same-group leaf $mid")
      }
    }
  }

  test("3-level tree: deterministic across runs") {
    val a1 = KMeans.fitVecsTreeM(vecs, 12, 3)._2
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val a2 = KMeans.fitVecsTreeM(vecs, 12, 3)._2
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a1 == a2)
  }

  test("q235 tree summary partitions the corpus exactly once") {
    // the declared query forces the tree on the gate corpus; every
    // document lands on exactly one leaf, so the per-leaf counts and
    // vec_id checksums must reassemble the whole corpus
    val out = KMeans.treeSummary(spark, sfDir).collect()
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.map(_.getLong(1)).sum == n, "leaf counts must sum to |corpus|")
    assert(out.map(_.getLong(2)).sum == n * (n - 1) / 2,
      "vec_id checksums must sum to 0+1+...+(n-1)")
    val cids = out.map(_.getInt(0))
    assert(cids.sameElements(cids.sorted) && cids.distinct.length == cids.length)
  }

  test("observed corpus count matches a direct count") {
    val (vecsC, n) = KMeans.docVectorsWithCount(spark, sfDir)
    assert(n == vecsC.count())
  }
}
