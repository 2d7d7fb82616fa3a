package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The bounded file-source replay behind every declared streaming
  * query: a scratch dir wiped at entry ([[scratch]]), parquet staged
  * one file per micro-batch ([[stage]], [[stageRanges]]), a stream
  * that takes one file per trigger ([[source]]), and a drain that
  * hard-asserts the incremental path really ran ([[drain]]) — so a
  * regression to single-batch execution fails the row instead of
  * silently passing.
  *
  * Batch ORDER is pinned by modification time: the file source
  * drains oldest-first, and staged file `bNN` carries mtime
  * `1400000000000 + NN·60000` (a fixed epoch base keeps reruns
  * byte-identical). Replays whose answer is arrival-order-insensitive
  * skip the pinning and write their stage directly.
  *
  * State-partition sizing ([[withStatePartitions]]): a stateful
  * streaming query materializes one state-store instance per shuffle
  * partition per stateful operator, and every micro-batch commits
  * every one of them (delta file + snapshot bookkeeping in the
  * checkpoint). The session default (≈ cores) is sized for BATCH
  * shuffles over sf-scale data; for the declared-query replays — a
  * handful of micro-batches over one table — 32 partitions mean
  * hundreds of store commits that are pure fixed overhead (the
  * busiest key-space here is thousands of keys, KBs of state). The
  * partition count is captured at query START and fixed for the
  * checkpoint's life, so the scope only needs to cover `start()`. At
  * production rates the same knob turns the other way — state
  * partitions are sized to throughput × key cardinality,
  * independently of this code. Answers are unaffected: every
  * streaming declared query is either key-wise order-insensitive or
  * pinned by staged-file order, and state partitioning never changes
  * WHAT is computed.
  */
object Replay {

  /** Shuffle/state partitions for bounded replays. */
  val ReplayPartitions = 8

  /** The EXACT conf set scoped around every stateful `start()` —
    * exposed for the no-leak spec (the AqeSkew discipline).
    *
    * Backend (r10, VERDICT r9 #6): RocksDB with CHANGELOG
    * checkpointing replaces the default HDFS-backed provider. A
    * commit then appends only the batch's changelog instead of
    * snapshotting the full store (snapshots move to background
    * maintenance), which is where the bounded replays' fixed cost
    * lives — probed idle at sf0.1, min-of-3 per backend: q157
    * 6.52→5.03 s (−23%), q162 5.42→5.34 s, q191 2.99→2.87 s; never
    * slower on any family member. (That backend probe was removed:
    * these confs are set inside every stateful `start()`, so a
    * session-level backend choice no longer reaches the replays.)
    * At production scale the same choice is forced by memory:
    * HDFS-backed state lives entirely on the JVM heap, RocksDB
    * spills to executor-local disk. Answers are
    * backend-independent (RocksDbStateSpec pins parity; every
    * streaming query stays oracle-gated). */
  val ScopedConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> ReplayPartitions.toString,
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // r16: RocksDB's row-count tracking issues one GET per PUT/DELETE
    // just to maintain the numRowsTotal progress metric — on the
    // stream-stream join (4 stores/partition, a put per input row)
    // that doubled per-batch state work (probed q210 jobSum
    // 9.8 → 2.7 s with the manager fix stacked). The metric is
    // observability-only; answers are unaffected. Production keeps it
    // off for the same reason unless the dashboard needs the count.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
      "false")

  /** Run `f` (a stateful query's `start()`) under [[ScopedConfs]],
    * restoring every key afterwards. */
  def withStatePartitions[T](spark: SparkSession)(f: => T): T =
    graft.GraftSession.withConfs(spark, ScopedConfs)(f)

  /** `Scratch.dir(name, sfDir)`, wiped, so every run replays the
    * stream from batch 0 with a fresh checkpoint and sink. */
  def scratch(spark: SparkSession, name: String, sfDir: String): String = {
    val base = graft.Scratch.dir(name, sfDir)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    base
  }

  /** Stage each slice as ONE file (one micro-batch), in order,
    * numbered after any `bNN` files already in `dir`. */
  def stage(dir: String, slices: Seq[DataFrame]): Unit = {
    val first = nextIndex(dir)
    slices.zipWithIndex.foreach { case (slice, k) =>
      val tmp = s"$dir.tmp${first + k}"
      slice.coalesce(1).write.parquet(tmp)
      val part = parts(tmp).headOption
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      place(Seq(part), dir, first + k)
    }
  }

  /** Stage `df` as 4 contiguous `by`-ranges, each sorted, one file
    * per range in range order — a stream drained from them never sees
    * a row behind an earlier batch's maximum. */
  def stageRanges(dir: String, df: DataFrame, by: String): Unit = {
    val first = nextIndex(dir)
    val tmp = s"$dir.tmp$first"
    df.repartitionByRange(4, col(by)).sortWithinPartitions(col(by))
      .write.parquet(tmp)
    // part-NNNNN order IS range order under repartitionByRange
    val ranges = parts(tmp)
    require(ranges.length >= 2,
      s"expected >=2 staged slices in $dir, got ${ranges.length}")
    place(ranges, dir, first)
  }

  /** The staged dir as a file-source stream, one file per trigger. */
  def source(spark: SparkSession, schema: String, dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Process everything staged, stop, and require at least
    * `minBatches` data micro-batches; returns their progress. */
  def drain(q: StreamingQuery, minBatches: Int,
      what: String): Seq[StreamingQueryProgress] = {
    try q.processAllAvailable() finally q.stop()
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
    require(batches.length >= minBatches,
      s"$what must run at least $minBatches micro-batches, " +
        s"saw ${batches.length}")
    batches
  }

  private val Staged = """b(\d+)\.parquet""".r

  private def nextIndex(dir: String): Int =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .collect { case Staged(i) => i.toInt + 1 }.maxOption.getOrElse(0)

  private def parts(tmp: String): Seq[java.io.File] =
    new java.io.File(tmp).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  private def place(files: Seq[java.io.File], dir: String,
      first: Int): Unit = {
    val stageDir = new java.io.File(dir)
    stageDir.mkdirs()
    files.zipWithIndex.foreach { case (f, k) =>
      val dst = new java.io.File(stageDir, f"b${first + k}%02d.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      require(dst.setLastModified(1400000000000L + (first + k) * 60000L),
        s"cannot pin mtime on $dst")
    }
  }
}
