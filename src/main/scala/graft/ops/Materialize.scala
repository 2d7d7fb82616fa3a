package graft.ops

import graft.expressions.ColumnBridge
import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{broadcast, count, lit}

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
  * - [[cached]] caches a subtree that several branches of one answer
  *   read, runs a body that pins that answer, then drops the cache,
  *   also when the body throws.
  * - [[advance]] moves an iterative loop (Lloyd k-means, PQ,
  *   k-center, PageRank, HITS, connected components, BPE) to its next
  *   round: it pins the new round's state, then releases the round it
  *   supersedes, so no superseded round waits for a driver GC.
  * - [[pinSized]] pins and counts a loop's state and returns the
  *   loop's [[Sizing]]: under [[SmallRows]] rows, the one
  *   small-relation constant, the loop pins its rounds on one
  *   partition and broadcasts the relations it joins.
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

  /** Cache `df`, run `body` on the cached frame, then drop the cache,
    * also when `body` throws. Unlike [[using]], no job runs up front:
    * the first job that reads the frame fills the cache, so a subtree
    * that several branches (or every round of a loop) read is
    * computed once at no extra job. As with [[using]], `body` must pin
    * what it returns, since the cache is gone afterwards. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.cache()
    try body(c) finally c.unpersist()
  }

  /** Pin `next`, the state of a loop's new round, and only then
    * [[release]] `prev`, the round it supersedes. `next` may read
    * `prev` lazily: its pin has run before `prev` goes. */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val pinned = pin(next)
    release(prev)
    pinned
  }

  /** Row count under which a loop's round state is small: one
    * partition holds it, and a broadcast join is cheaper than a
    * shuffle. 3 rounds × 32 shuffle partitions on a 2,000-node graph
    * were pure scheduling overhead. At or above it a loop keeps the
    * incoming partitioning: a 100 TB corpus yields billions of
    * near-dup pairs, and one partition there is a one-task bottleneck
    * and a single-node memory hazard. */
  val SmallRows = 1000000L

  /** [[pinCounted]], with the [[Sizing]] the count selects. */
  def pinSized(df: DataFrame): (DataFrame, Sizing) = {
    val (pinned, n) = pinCounted(df)
    (pinned, Sizing(n))
  }

  /** The small-relation rule of one loop, fixed by a measured row
    * count: below [[SmallRows]] the loop's rounds are pinned on one
    * partition and broadcast where the loop joins them; otherwise
    * they keep their partitioning and join by shuffle. */
  final case class Sizing(rows: Long) {
    val small: Boolean = rows < SmallRows

    private def placed(df: DataFrame): DataFrame =
      if (small) df.coalesce(1) else df

    /** Pin a round's state, on one partition when small. */
    def pin(df: DataFrame): DataFrame = Materialize.pin(placed(df))

    /** [[Materialize.advance]], on one partition when small. */
    def advance(prev: DataFrame, next: DataFrame): DataFrame =
      Materialize.advance(prev, placed(next))

    /** A relation the loop joins: broadcast when small. */
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    /** The counted pin on this sizing's partitions: a small one is
      * re-pinned to one partition and its first copy released, a
      * large one is kept as it is, with no second pass. */
    def compact(pinned: DataFrame): DataFrame =
      if (small) advance(pinned, pinned) else pinned
  }

  /** Drop a [[pin]]'s blocks, and in reliable mode its checkpoint
    * files, once nothing reads the pinned frame again. Only a frame
    * that is itself a pin (column projections over one pinned leaf)
    * is released; one that filters or joins a pin only reads it, and
    * the pin stays. A released frame is unusable afterwards: its
    * lineage is truncated, so the blocks cannot be recomputed. */
  def release(df: DataFrame): Unit =
    pinnedLeaf(df.queryExecution.logical).foreach { r =>
      ColumnBridge.unpersist(r.rdd)
      r.rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
    }

  @annotation.tailrec
  private def pinnedLeaf(plan: LogicalPlan): Option[LogicalRDD] = plan match {
    case Project(_, child) => pinnedLeaf(child)
    case r: LogicalRDD => Some(r)
    case _ => None
  }
}
