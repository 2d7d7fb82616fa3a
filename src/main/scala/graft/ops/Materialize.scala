package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one materialization boundary: every mid-pipeline
  * relation that is pinned (fit loops, staged audit chains, shared
  * subtrees, the streaming replays' staging inputs) goes through this
  * object, and no other code pins. ToolsSpec enforces that.
  *
  * - [[pin]] (or `.pin()`, from the `graft.ops` package object)
  *   eagerly materializes a relation and returns a lineage-free leaf.
  * - [[pinCounted]] pins and returns the row count, which an
  *   `observe` metric collects from the pin's own job, so the count
  *   costs no extra job.
  * - [[using]] pins, runs a body on the pinned frame, and releases
  *   the blocks afterwards, also when the body throws.
  * - [[release]] drops a pin's blocks once nothing reads it again.
  *
  * The mode decides HOW a relation is pinned. `local` (the default)
  * is `localCheckpoint`: blocks on the executors with no replication,
  * right for `local[n]`, where the executor is the driver's process,
  * and byte-identical in plans to the raw call. On a cluster one lost
  * executor makes such a truncated lineage unrecoverable ("Checkpoint
  * block ... not found"), so a cluster deployment sets
  * `spark.graft.materialize.mode=reliable` plus a checkpoint dir on
  * durable storage (`spark.checkpoint.dir` or
  * `sparkContext.setCheckpointDir`), and every pin becomes
  * `Dataset.checkpoint`: the same rows and the same downstream plans
  * (both return a materialized LogicalRDD), but the blocks survive
  * executor loss.
  *
  * Both modes materialize eagerly (callers rely on the pin's job to
  * fire `observe` metrics and to fix convergence-loop state), keep
  * the input's rows exactly, and hand downstream consumers a leaf
  * without lineage.
  */
object Materialize {

  /** Session conf selecting the mode: `local` (default) or
    * `reliable`. Read per call so tests can flip it at runtime; any
    * other value fails fast rather than silently pinning locally. */
  val ModeKey = "spark.graft.materialize.mode"

  def pin[T](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.conf.getOption(ModeKey) match {
      case Some("reliable") =>
        require(ds.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
          s"$ModeKey=reliable needs a checkpoint dir on durable storage " +
            "(spark.checkpoint.dir or sparkContext.setCheckpointDir)")
        ds.checkpoint()
      case Some("local") | None => ds.localCheckpoint()
      case Some(other) =>
        throw new IllegalArgumentException(
          s"$ModeKey must be local or reliable, got '$other'")
    }

  /** [[pin]] plus the pinned row count, observed from the pin's own
    * job: an adaptive choice (one partition for a small table, a
    * broadcast side) needs the size, and a separate `count()` would
    * be one more job over the same subtree. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = pin(df.observe(obs, count(lit(1)).as("n")))
    (pinned, obs.get("n").asInstanceOf[Long])
  }

  /** Pin `df`, run `body` on the pinned frame, then [[release]] it,
    * also when `body` throws. `body` must not return anything that
    * still reads the pin lazily: pin what it returns. */
  def using[T](df: DataFrame)(body: DataFrame => T): T = {
    val pinned = pin(df)
    try body(pinned) finally release(pinned)
  }

  /** Drop a [[pin]]'s blocks, and in reliable mode its checkpoint
    * files, once nothing reads the pinned frame again. The frame is
    * unusable afterwards: its lineage is truncated, so the blocks
    * cannot be recomputed. */
  def release(pinned: DataFrame): Unit =
    pinned.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist()
        r.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(pinned.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ =>
    }
}
