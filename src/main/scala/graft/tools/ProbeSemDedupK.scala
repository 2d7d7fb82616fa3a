package graft.tools

import graft.ops.{KMeans, PinSyntax, SemDedup}

/** Scale probe for the q100 SemDeDup family: drive the SAME
  * pair-compare + rollup with K scaled to the corpus — the
  * production knob `SemDedup`'s scaladoc names ("clusters scale with
  * corpus so |cluster| stays bounded"). The declared q100 pins
  * K = [[KMeans.DocK]] = 10 for oracle parity, so its probe ladder
  * shows the Σ|cluster|²/K term going quadratic at fixed K; this
  * tool measures the same corpus with K ∝ corpus to demonstrate the
  * restored-linear path (fit cost is n·K·d map-side compute against
  * a broadcast centroid table whose size is K·8 KB — at real K the
  * centroids stay a bounded broadcast because K grows like corpus/
  * |cluster|, orders below the corpus itself).
  *
  * Since r13 this tool measures the FLAT spread-seeded Lloyd at the
  * given K (the comparison baseline); the declared adaptive path
  * takes [[KMeans.fitVecsTree]] above the gate constant instead —
  * probe that via [[ProbeDocModel]] (r13 breakdown: flat fit_assign
  * 44.7/161.0 s at x10-K100/x30-K300 vs tree 38.4/112.1).
  *
  * {{{ sbt "runMain graft.tools.ProbeSemDedupK /dev/shm/graft_scale/x30 300 2" }}}
  */
object ProbeSemDedupK {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val times = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      val assigned = KMeans
        .docModelAndAssignmentsK(spark, sfDir, k, spreadSeeds = k > KMeans.DocK)._2
        .pin() // stage barrier: fit + assignment timed alone
      val t1 = System.nanoTime()
      val out = SemDedup.semDedupOver(assigned, alreadyPinned = true)
      val agg = out.selectExpr("count(*) AS clusters",
        "sum(n_total) AS total", "sum(n_removed) AS removed",
        "max(n_total) AS max_cluster").head
      val t2 = System.nanoTime()
      val sec = (t2 - t0) / 1e9
      println(f"PROBE_SEMDEDUP_K rep=$rep k=$k sec=$sec%.3f " +
        f"fit_assign=${(t1 - t0) / 1e9}%.3f pairs=${(t2 - t1) / 1e9}%.3f " +
        s"clusters=${agg.getLong(0)} total=${agg.getLong(1)} " +
        s"removed=${agg.getLong(2)} max_cluster=${agg.getLong(3)}")
      graft.GraftSession.scrub(spark)
      sec
    }
    println(f"PROBE_SEMDEDUP_K_MIN k=$k min=${times.min}%.3f")
    spark.stop()
  }
}
