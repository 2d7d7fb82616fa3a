package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config the engine's entry points share:
  * UTC timezone (deterministic timestamps vs the oracle),
  * shuffle partitions ≈ cores (not the 200 default),
  * nanos-as-long parquet reads (the events table is TIMESTAMP(NANOS),
  * which Spark's vectorized reader otherwise refuses), AQE on for the
  * runtime re-planning story at scale, tmpfs-backed scratch space
  * when available, and the engine's extensions ([[GraftExtensions]]:
  * its SQL functions and planner strategy).
  */
object GraftSession {

  /** Shuffle files, disk spills, and block-manager overflow go to
    * `spark.local.dir`. On this host the root disk is a virtio device
    * whose sustained throughput can collapse to MB/s once burst
    * credits drain (measured: 512 MB fsync = 83 s mid-session), which
    * turns every shuffle write into the bottleneck regardless of plan
    * quality. /dev/shm is RAM-backed and sized at half of physical
    * memory — more than any sf0.1 shuffle needs — so scratch traffic
    * never touches the slow disk. Falls back to the default /tmp when
    * tmpfs is absent (a real cluster configures local dirs on NVMe
    * the same way). */
  private def scratchDir: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark-local")
      d.mkdirs()
      Some(d.getAbsolutePath)
    } else None
  }

  def builder(cores: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming checkpoint logs (offset/commit WAL, state changelog
      // uploads, file-source/sink metadata) default to the
      // FileContext-based manager, whose local-FS rename path calls
      // RawLocalFileSystem.readLink — a fork+exec of a shell command
      // PER RENAME (driver thread dumps during q162 showed
      // Shell.runCommand under HDFSMetadataLog.write on every
      // micro-batch commit; 33/6-dump hits). The FileSystem-based
      // manager renames via File.renameTo — no subprocess, same
      // atomic-rename semantics on a local FS. Scoped to this builder
      // (local-mode sessions with tmpfs-local checkpoints); a cluster
      // deployment on HDFS/S3 keeps Spark's default manager choice.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      // reliable-mode pins (ops/Materialize) that no `release` dropped
      // lose their checkpoint files once the driver GCs them
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    scratchDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** Run `body` with `confs` set on the session, then put each key
    * back as it was, also when `body` throws: a key that was set gets
    * its old value, and a key that was absent is unset. Setting an
    * absent key to its default instead would leave it in
    * `spark.conf.getAll`, which keys `Tables.derived`. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val set = spark.conf.getAll // explicit keys only, unlike getOption
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private var scrubCount = 0

  /** Drop per-query session state so back-to-back query runs (Bench,
    * Verify, Profile) can't poison each other. `clearCache()` only
    * covers `cache()`/`persist()` on tables. A query's
    * [[graft.ops.Materialize]] pins that no `using` or `release`
    * dropped (most of them: a query's answer reads its pins lazily)
    * stay in the block manager until the driver GCs the RDD object
    * and the async ContextCleaner gets around to them — over a
    * 134-query × 2-rep run that lag accumulates into storage-memory
    * eviction churn. Unpersisting every still-registered RDD is
    * synchronous and safe between queries (nothing references them
    * across query boundaries), and `ColumnBridge.unpersist` drops a
    * local pin without Spark's truncated-lineage warning; a periodic
    * System.gc() lets the ContextCleaner reclaim shuffle files and
    * broadcasts too, and, in reliable mode, the checkpoint files of
    * pins nothing references any more ([[builder]] sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints`). */
  def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(graft.expressions.ColumnBridge.unpersist)
    scrubCount += 1
    if (scrubCount % 8 == 0) System.gc()
  }
}
