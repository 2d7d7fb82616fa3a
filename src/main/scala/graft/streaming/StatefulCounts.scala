package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom per-key streaming state via mapGroupsWithState — the shape
  * for stateful logic the built-in windowed aggregates can't express
  * (the reference's per-job crawl counters, Q3 state machine, live
  * here in a streaming deployment).
  */
object StatefulCounts {

  case class UserEvent(user_id: Long, event_type: String)
  case class UserState(events: Long, errors: Long)
  case class UserSnapshot(user_id: Long, events: Long, errors: Long)

  /** Running per-user (events, errors) counters, updated per
    * micro-batch, emitted as a changelog in Update mode. */
  def runningCounts(events: Dataset[UserEvent]): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSnapshot](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent],
         state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var ev = prev.events
          var er = prev.errors
          batch.foreach { e =>
            ev += 1
            if (e.event_type == "error") er += 1
          }
          val next = UserState(ev, er)
          state.update(next)
          UserSnapshot(userId, next.events, next.errors)
      }
  }

  /** q160: per-key custom state as a DECLARED query — the REAL
    * `mapGroupsWithState` changelog path over the events table
    * replayed as a bounded file-source stream. Each micro-batch
    * emits an updated (user, events, errors) snapshot for every user
    * it touched; `foreachBatch` appends the changelog stamped with
    * its batch id, and the final answer keeps each user's
    * LAST-stamped row — exactly how a changelog consumer
    * materializes current state. The final snapshot is the totals
    * over ALL events, which is arrival-order-insensitive, so no
    * order pinning is needed; the ≥ 2 micro-batch hard-assert keeps
    * the state-carry path honestly exercised.
    *
    * Scale shape: state is two longs per user; each batch shuffles
    * its own events once on user_id; the changelog is parquet
    * append and the newest-wins cut is a per-user window over the
    * (tiny) user dimension, the same shape as the corpus upsert. */
  def streamedUserCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Replay.scratch(spark, "stream_counts", sfDir)
    val stage = s"$base/stage"
    Tables.events(spark, sfDir).select(col("user_id"), col("event_type"))
      .repartition(4).write.parquet(stage)
    val src = Replay.source(spark, "user_id BIGINT, event_type STRING", stage)
      .as[UserEvent]
    val log = s"$base/changelog"
    val q = Replay.withStatePartitions(spark) {
      runningCounts(src).toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(log)
        }
        .start()
    }
    Replay.drain(q, 2, "stateful counts")
    import org.apache.spark.sql.expressions.Window
    val newest = Window.partitionBy(col("user_id"))
      .orderBy(col("batch_id").desc)
    spark.read.parquet(log)
      .withColumn("rn", row_number().over(newest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("events"), col("errors"))
      .orderBy(col("user_id"))
  }

  /** The materialized changelog is just the per-user totals. */
  val streamedUserCountsSql: String =
    """SELECT user_id, COUNT(*) AS events,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS errors
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
}
