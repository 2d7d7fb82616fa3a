package graft

import graft.streaming.StreamEnrich
import org.apache.spark.sql.functions._

/** Stream-static enrichment (q198): the streamed rollup equals the
  * batch join (split-invariance of stateless stream-static joins),
  * and the sink carries every matched event exactly once. */
class StreamEnrichSpec extends SparkSpec {
  import spark.implicits._

  test("streamed enrichment equals the batch join rollup") {
    val got = StreamEnrich.streamedEnrichment(spark, sfDir)
      .as[(String, Long, Double)].collect().toSeq
    val batch = Tables.events(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(28,10)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy($"segment")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("sink row count equals the matched-event count (no dupes, no loss)") {
    StreamEnrich.streamedEnrichment(spark, sfDir).collect()
    val base = graft.Scratch.dir("stream_enrich", sfDir)
    val sink = spark.read.parquet(s"$base/out")
    val matched = Tables.events(spark, sfDir)
      .join(Tables.customer(spark, sfDir), $"user_id" === $"c_custkey")
      .count()
    assert(sink.count() == matched)
    assert(sink.select($"event_id").distinct().count() == matched,
      "each event must be enriched exactly once")
  }

  test("the staging pin is released once the stage is written") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamEnrich.streamedEnrichment(spark, sfDir).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"q198 left persistent RDDs $leaked")
  }
}
