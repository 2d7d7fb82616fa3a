package graft

import org.apache.spark.sql.functions._
import graft.ops.{Components, Materialize}

/** Connected-components scale and convergence contracts:
  *
  *  - the pair-table pin is SIZE-CONDITIONAL — a large pair set keeps
  *    its shuffle partitioning (never funnels through one task), a
  *    small one is pinned to a single partition for the fixed-cost
  *    loop;
  *  - the min-label loop (q53) is oracle-parity-bounded at diameter
  *    [[Components.Rounds]]: on a deeper graph it returns partial
  *    labels (documented behavior, warns loudly);
  *  - the large-star/small-star loop (q145) converges on the same
  *    deep graph — it is the production CC.
  */
class ComponentsSpec extends SparkSpec {

  test("pinPairs keeps >1 partition for a large pair set") {
    val big = spark.range(0L, Materialize.SmallRows + 200000L, 1L, 8)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val pinned = Components.pinPairs(big)
    assert(pinned.rdd.getNumPartitions > 1,
      "large pair set must not be coalesced to one partition")
  }

  test("pinPairs pins a small pair set to one partition") {
    val small = spark.range(0L, 1000L, 1L, 8)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    assert(Components.pinPairs(small).rdd.getNumPartitions == 1)
  }

  test("CC pair source plans no global sort (the r8 double-execution fix)") {
    // Materializing through q23's oracle ORDER BY pays the range
    // partitioner's SAMPLING pass, which re-executes the verification
    // join a second time (measured 10-14 s vs ~3-4 s at sf0.1). The
    // CC path must keep consuming the sort-free variant.
    val p = graft.ops.Dedup.jaccardPairsUnsorted(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("rangepartitioning"),
      s"CC pair source re-grew a global sort:\n$p")
    // and the q23 surface keeps its deterministic order for the oracle
    val q23 = graft.ops.Dedup.jaccardPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q23.contains("rangepartitioning") || q23.contains("Sort"),
      "q23 lost its oracle ordering")
  }

  /** Symmetric chain 0-1-…-8: 9 nodes, diameter 8. */
  private def chainEdges = {
    val fwd = spark.range(0L, 8L)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("min-label loop is diameter-bounded: partial labels past the cap") {
    // min label travels one hop per round: after 6 rounds node 7 has
    // label 1 and node 8 has label 2 — three distinct labels remain
    val labels = Components.minLabelLoop(chainEdges, Components.Rounds)
    val distinctLbls = labels.select(col("lbl")).distinct().count()
    assert(distinctLbls == 3,
      s"diameter-8 chain after ${Components.Rounds} rounds should hold " +
        s"labels {0,1,2}, got $distinctLbls distinct")
  }

  test("canonical keep: best-quality member wins each cluster; ledger balances") {
    import graft.ops.{Curation, Components}
    val rows = Components.canonicalKeep(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // replay: labels + scores recomputed independently, then argmax
    val labels = Components.minLabelLoop(
      graft.ops.Components.edges(spark, sfDir), Components.Rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scores = Curation.scoreDocs(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = labels.groupBy(_._2).view.mapValues(_.keys.toSeq)
    rows.foreach { r =>
      val (lbl, sz, keep) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // token-less docs have no quality score and are not keep
      // candidates (both engines drop them at the score join)
      val members = byCluster(lbl).filter(scores.contains)
      assert(members.size.toLong == sz)
      val want = members.maxBy(d => (math.round(scores(d) * 1e6), -d))
      assert(keep == want, s"cluster $lbl kept $keep, want $want")
      assert(r.getLong(4) == sz - 1) // n_removed
      assert(r.getLong(5) == members.sum - keep) // removed_checksum
    }
  }

  test("star loop converges on the diameter-8 chain") {
    val pairs = spark.range(0L, 8L)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val es = Components.starLoop(pairs, 6)
    val labels = es.select(col("a").as("node"), col("b").as("lbl"))
      .unionByName(es.select(col("b").as("node"), col("b").as("lbl")))
      .distinct()
    val lbls = labels.select(col("lbl")).distinct().collect().map(_.getLong(0))
    assert(lbls.toSet == Set(0L),
      s"star CC must collapse the chain to component 0, got ${lbls.toSet}")
    assert(labels.count() == 9L)
  }
}
