package graft

import graft.streaming.StatefulCounts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RocksDB state store backend — the production choice when streaming
  * state outgrows executor heap (the default HDFS-backed provider
  * keeps every key in JVM memory; RocksDB spills to local disk with
  * changelog checkpointing). The engine's stateful operators must run
  * unchanged on it and produce identical results: state-store choice
  * is an ops knob, never a semantics change.
  */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("mapGroupsWithState on RocksDB equals the batch totals") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_rocksdb").toFile.getAbsolutePath
    val stage = s"$base/stage"
    val log = s"$base/changelog"
    Tables.events(spark, sfDir).select($"user_id", $"event_type")
      .repartition(3).write.parquet(stage)

    val prev = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDb)
    try {
      val src = spark.readStream
        .schema("user_id BIGINT, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage).as[StatefulCounts.UserEvent]
      val q = StatefulCounts.runningCounts(src).toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(log)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 2, s"need multiple micro-batches, saw $batches")
      // the running query must actually have used RocksDB
      val usedRocks = q.lastProgress.stateOperators.exists { op =>
        Option(op.customMetrics).exists(m =>
          m.keySet().toArray.exists(_.toString.startsWith("rocksdb")))
      }
      assert(usedRocks, "state operator reports no rocksdb metrics — " +
        "provider conf did not take effect")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderConf, v)
        case None => spark.conf.unset(ProviderConf)
      }
    }

    import org.apache.spark.sql.expressions.Window
    val newest = Window.partitionBy($"user_id").orderBy($"batch_id".desc)
    val got = spark.read.parquet(log)
      .withColumn("rn", row_number().over(newest))
      .filter($"rn" === 1)
      .select($"user_id", $"events", $"errors")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val expected = Tables.events(spark, sfDir)
      .groupBy($"user_id").agg(
        count(lit(1)).as("events"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("errors"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === expected,
      "RocksDB-backed state diverged from the batch totals")
  }

  test("withStatePartitions scopes RocksDB+changelog and restores every conf") {
    // iterate the operator's OWN scoped-conf list (the AqeSkew
    // discipline) — a restore regression in ANY key it touches,
    // including the r10 backend confs, must land here
    val keys = graft.streaming.Replay.ScopedConfs.map(_._1)
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val inside = graft.streaming.Replay.withStatePartitions(spark) {
      keys.map(k => k -> spark.conf.getOption(k))
    }
    assert(inside.toMap.apply(ProviderConf) === Some(RocksDb),
      "replays must run on the RocksDB backend")
    assert(inside.toMap.apply("spark.sql.shuffle.partitions") ===
      Some(graft.streaming.Replay.ReplayPartitions.toString))
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(after === before, "scoped streaming confs leaked")
  }
}
