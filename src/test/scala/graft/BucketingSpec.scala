package graft

import graft.ops.Bucketing

/** The bucketed-layout contract: co-located join with ZERO exchanges,
  * identical answers to the shuffled control. */
class BucketingSpec extends SparkSpec {

  /** Control: the same join off plain parquet (exchanges both sides). */
  private def plainJoined() = {
    import org.apache.spark.sql.functions.col
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
  }

  test("bucketed join plans no Exchange; plain parquet control shuffles") {
    Bucketing.writeBucketed(spark, sfDir,
      java.nio.file.Files.createTempDirectory("bucketed").toString)
    // force the non-broadcast regime the layout exists for: at real
    // scale neither side broadcasts, and the bucketed layout is what
    // deletes the two shuffles the SMJ would otherwise need
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = Bucketing.bucketedJoined(spark)
      bucketed.collect() // finalize the adaptive plan
      val bp = bucketed.queryExecution.executedPlan.toString
      assert(!bp.contains("Exchange"),
        s"bucketed join still exchanges:\n$bp")
      assert(bp.contains("SortMergeJoin"), s"not a bucketed SMJ:\n$bp")
      val plain = plainJoined()
      plain.collect()
      val pp = plain.queryExecution.executedPlan.toString
      assert(pp.contains("Exchange"),
        s"control join unexpectedly shuffle-free (test is vacuous):\n$pp")
      // identical answers through both layouts
      val a = Bucketing.rollup(bucketed).collect().toSeq
      val b = Bucketing.rollup(plain).collect().toSeq
      assert(a == b)
      assert(a.nonEmpty)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q153 executes the join once — the reported rollup scans the " +
    "checkpointed blocks, not the tables") {
    val df = Bucketing.bucketedRollup(spark, sfDir)
    assert(df.collect().nonEmpty)
    // the join already ran (and was plan-asserted) inside
    // bucketedRollup; the answer the caller executes must contain no
    // join and no table scan — otherwise the join ran twice
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("FileScan"),
      s"rollup must read the checkpointed join, not re-execute it:\n$plan")
  }
}
