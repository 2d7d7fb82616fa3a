package graft.tools

/** The ×10 answer-verification harness (VERDICT r14 #1): every scale
  * ladder to date measured WALL TIME above sf0.1; this runs the
  * Verify dump for named queries against a STAGED scaled corpus
  * (`StageScaledCorpus` output) and emits oracle SQL that is
  * scale-FAITHFUL — for the adaptive-K doc-model family
  * (q79/q100/q229) the declared oracle pins the gate's flat
  * K = DocK Lloyd, while the Spark side above the gate runs the
  * two-level tree at K = n/DocsPerCluster; this tool renders those
  * three oracles through [[graft.ops.KMeans.docTreeModelCtesAt]] at
  * the staged corpus's own K, so `tools/compare_strict.py` can
  * hash-check the answers the engine actually produces at scale.
  * Every other query keeps its declared oracle verbatim.
  *
  * {{{
  * sbt "runMain graft.tools.VerifyScaled /dev/shm/graft_scale/x10 /dev/shm/graft_scale/vx10 q53_dedup_groups q79_ivf_1024 ..."
  * python3 tools/compare_strict.py /dev/shm/graft_scale/vx10 /dev/shm/graft_scale/x10
  * }}}
  */
object VerifyScaled {

  /** Queries whose declared oracle is gate-K-pinned, with their
    * adaptive-K rendering. */
  private def scaledOracles(k: Int): Map[String, String] = Map(
    "q79_ivf_1024" -> graft.ops.KMeans.knnIvf1024TreeSqlAt(k),
    "q100_semdedup" -> graft.ops.SemDedup.semDedupTreeSqlAt(k),
    "q229_incontext_pack" -> graft.ops.InContextPack.inContextPackTreeSqlAt(k))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = graft.Corpus.docEmbeddings(spark, sfDir).count()
    val k = graft.ops.KMeans.adaptiveDocKOf(n)
    System.err.println(s"[verify-scaled] corpus=$n adaptiveDocK=$k " +
      (if (k == graft.ops.KMeans.DocK) "(gate constant — declared oracles)"
       else "(tree path — q79/q100/q229 oracles re-rendered)"))
    graft.Verify.dump(spark, sfDir, args(1), args.drop(2).toSeq,
      graft.SparkEntry.oracleSql ++
        (if (k == graft.ops.KMeans.DocK) Map.empty else scaledOracles(k)))
    spark.stop()
  }
}
