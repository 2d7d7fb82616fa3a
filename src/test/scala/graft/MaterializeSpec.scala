package graft

import graft.ops.Materialize
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._

/** Contract gate for the materialization switch (VERDICT r15 #1/#3):
  * the default mode must be byte-for-byte the `localCheckpoint` the
  * call sites used before (so plans and bench records are untouched),
  * and the `reliable` mode must produce the same rows through
  * `Dataset.checkpoint` on a configured checkpoint dir — the 100 TB
  * deployment's executor-loss-safe materialization.
  */
class MaterializeSpec extends SparkSpec {

  private def sample = Tables.nation(spark, sfDir)
    .select(col("n_nationkey"), col("n_regionkey"))

  test("default mode is localCheckpoint: same leaf, same rows") {
    val viaHelper = Materialize.pin(sample)
    val viaLocal = sample.localCheckpoint()
    // both materialize to the same leaf node class (LogicalRDD) ...
    assert(viaHelper.queryExecution.analyzed.getClass ===
      viaLocal.queryExecution.analyzed.getClass)
    // ... and to identical content
    assert(viaHelper.collect().map(_.toSeq).toSet ===
      viaLocal.collect().map(_.toSeq).toSet)
  }

  /** Run `body` in reliable mode on a fresh checkpoint dir. */
  private def reliably[T](body: String => T): T = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toFile.getAbsolutePath
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Materialize.ModeKey, "reliable")
    try body(dir)
    finally {
      spark.conf.unset(Materialize.ModeKey)
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("reliable mode without a checkpoint dir fails fast") {
    // declared before every test that sets a dir: a SparkContext's
    // checkpoint dir cannot be unset, and only this suite sets one
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir is already set, so this guard cannot be tested")
    spark.conf.set(Materialize.ModeKey, "reliable")
    try intercept[IllegalArgumentException](Materialize.pin(sample))
    finally spark.conf.unset(Materialize.ModeKey)
  }

  test("reliable mode checkpoints to the configured dir, same rows") {
    reliably { dir =>
      val pinned = Materialize.pin(sample)
      assert(pinned.collect().map(_.toSeq).toSet ===
        sample.collect().map(_.toSeq).toSet)
      // the reliable checkpoint must have actually landed on the dir
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty,
        "reliable mode wrote nothing under the checkpoint dir")
    }
  }

  test("an eager pin fires an observe metric from its own job") {
    // pinCounted (KMeans.docVectorsWithCount, Components, Graph) reads
    // the count observed below a pin without running any other action
    import spark.implicits._
    def input = (0 until 1000).toDF("x")
    def observedCount(): Long = {
      val obs = Observation()
      Materialize.pin(input.observe(obs, count(lit(1)).as("cnt")))
      Await.result(obs.future, 30.seconds).getAs[Long]("cnt")
    }
    def pinnedCount(): Long = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val (pinned, n) = Materialize.pinCounted(input)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        assert(jobs.get === 1, "pinCounted ran more than the pin's own job")
        assert(pinned.count() === n)
        n
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(observedCount() === 1000L, "local mode")
    assert(pinnedCount() === 1000L, "local mode, pinCounted")
    assert(reliably(_ => observedCount()) === 1000L, "reliable mode")
    assert(reliably(_ => pinnedCount()) === 1000L, "reliable mode, pinCounted")
  }

  test("using releases the pin's blocks on a normal return and on a throw") {
    def registered = spark.sparkContext.getPersistentRDDs.keySet
    val before = registered
    val rows = Materialize.using(sample) { pinned =>
      assert((registered -- before).nonEmpty, "the body runs on a pin")
      pinned.count()
    }
    assert(rows === sample.count())
    assert((registered -- before).isEmpty, "normal return kept the blocks")
    intercept[IllegalStateException] {
      Materialize.using(sample)(_ => throw new IllegalStateException("body"))
    }
    assert((registered -- before).isEmpty, "a throwing body kept the blocks")
  }

  test("a reliable using leaves no checkpoint files behind") {
    reliably { dir =>
      def rddDirs: Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          f +: Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(walk)
        walk(new java.io.File(dir)).count(_.getName.startsWith("rdd-"))
      }
      val before = rddDirs
      val rows = Materialize.using(sample) { pinned =>
        assert(rddDirs === before + 1, "the body runs on a reliable checkpoint")
        pinned.count()
      }
      assert(rows === sample.count())
      assert(rddDirs === before, "using kept the checkpoint files")
    }
  }

  test("an unknown mode fails fast, naming the conf") {
    spark.conf.set(Materialize.ModeKey, "Reliable")
    try {
      val e = intercept[IllegalArgumentException](Materialize.pin(sample))
      assert(e.getMessage.contains(Materialize.ModeKey), e.getMessage)
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("advance releases the superseded round's pin, not a pin it only filters") {
    def registered = spark.sparkContext.getPersistentRDDs.keySet
    val before = registered
    val base = Materialize.pin(sample)
    val baseIds = registered -- before
    // round 0 filters the base pin: it reads that pin but is not one
    val round0 = base.filter(col("n_regionkey") < 3)
    val round1 = Materialize.advance(round0,
      round0.select(col("n_nationkey"), (col("n_regionkey") + 1).as("r")))
    val round1Ids = registered -- before -- baseIds
    assert(baseIds.nonEmpty && round1Ids.nonEmpty, "both rounds are pins")
    assert(baseIds.subsetOf(registered),
      "advancing past a filter released the pin it reads")
    // round 1 is a pin, seen through a projection: round 2 releases it
    val round2 = Materialize.advance(round1.select(col("n_nationkey"), col("r")),
      round1.select(col("n_nationkey"), (col("r") + 1).as("r")))
    assert((registered intersect round1Ids).isEmpty,
      "the superseded round's pin stayed")
    assert(round2.count() === round0.count(), "the new round outlives the old")
    Materialize.release(round2)
    Materialize.release(base)
    assert((registered -- before).isEmpty)
  }

  test("a looping query leaves only the pins its answer reads") {
    // Upper bounds: the ContextCleaner may reclaim pins early, which
    // only lowers the count. Each bound is the number of pins the
    // answer's plan still reads once its loop is done. Every
    // persistent RDD counts, so a `cache()` upstream of a loop (the
    // k-means vectors, Dedup's shingle caches under the CC family)
    // must be dropped once the loop's pins hold the answer.
    val bounds = Seq(
      "q41_kmeans_clusters" -> 1,  // the last centroids
      "q53_dedup_groups" -> 1,     // the last labels
      "q66_pagerank" -> 1,         // the last ranks
      "q110_hits" -> 2,            // the last authorities and hubs
      "q145_cc_star" -> 1,         // the converged star edges
      "q147_canonical_keep" -> 1,  // the last labels
      "q235_kmeans_tree" -> 2,     // the leaf routing and the leaf centroids
      "q236_kcenter_coreset" -> 0) // the trace is collected: a local relation
    def registered = spark.sparkContext.getPersistentRDDs.keySet.toSet
    bounds.foreach { case (name, bound) =>
      GraftSession.scrub(spark)
      val before = registered
      val answer = SparkEntry.queries(name)(spark, sfDir)
      assert(answer.collect().nonEmpty, s"$name answered nothing")
      val left = (registered -- before).size
      assert(left <= bound, s"$name left $left persistent RDDs; its answer reads $bound")
    }
    GraftSession.scrub(spark)
  }

  test("release drops the pin's blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pinned = Materialize.pin(sample)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "a local pin registers a persistent RDD")
    Materialize.release(pinned)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
