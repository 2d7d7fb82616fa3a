package graft

import graft.streaming.Replay

/** The replay harness's guards, which every streaming declared query
  * relies on: the batch-count assert fires, staged files are numbered
  * `bNN` with strictly increasing mtimes (continuing across calls),
  * and the scratch dir starts empty. The structure guard keeps new
  * replays on the harness instead of another hand-rolled copy. */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = java.nio.file.Files
    .createTempDirectory("graft_replay").toFile.getAbsolutePath

  /** (name, mtime) of every file in `dir`, by name. */
  private def staged(dir: String): Seq[(String, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .map(f => f.getName -> f.lastModified).sortBy(_._1)

  private def pinned(n: Int): Seq[(String, Long)] =
    (0 until n).map(i => f"b$i%02d.parquet" -> (1400000000000L + i * 60000L))

  private def rows(dir: String, name: String): Seq[Long] =
    spark.read.parquet(s"$dir/$name").as[Long].collect().toSeq

  /** A stateless replay of `slices` into a noop sink, started. */
  private def noopReplay(dir: String, slices: Seq[Seq[Long]]) = {
    Replay.stage(dir, slices.map(_.toDF("k")))
    Replay.source(spark, "k BIGINT", dir).writeStream.format("noop")
      .option("checkpointLocation", s"$dir.ckpt").start()
  }

  test("drain returns one progress per data batch, and throws below the minimum") {
    val base = freshDir()
    val two = noopReplay(s"$base/two", Seq(Seq(1L, 2L), Seq(3L)))
    assert(Replay.drain(two, 2, "test replay").map(_.numInputRows) ===
      Seq(2L, 1L))
    assert(!two.isActive)
    val one = noopReplay(s"$base/one", Seq(Seq(1L, 2L)))
    val e = intercept[IllegalArgumentException](
      Replay.drain(one, 2, "test replay"))
    assert(e.getMessage.contains("saw 1"), e.getMessage)
    assert(!one.isActive, "drain must stop the query when it throws")
  }

  test("stage: one bNN file per slice, pinned mtimes; a second call continues") {
    val dir = s"${freshDir()}/stage"
    Replay.stage(dir, Seq(Seq(1L).toDF("k"), Seq(2L, 3L).toDF("k")))
    Replay.stage(dir, Seq(Seq(4L).toDF("k")))
    assert(staged(dir) === pinned(3))
    assert(staged(dir).map(f => rows(dir, f._1)) ===
      Seq(Seq(1L), Seq(2L, 3L), Seq(4L)))
  }

  test("stageRanges: sorted contiguous ranges in file order; stage continues") {
    val dir = s"${freshDir()}/stage"
    Replay.stageRanges(dir,
      spark.range(0, 1000).toDF("k").repartition(3), "k")
    val n = staged(dir).length
    assert(n >= 2)
    assert(staged(dir) === pinned(n))
    // file order IS key order: the concatenation is globally sorted
    assert(staged(dir).flatMap(f => rows(dir, f._1)) === (0L until 1000L))
    Replay.stage(dir, Seq(Seq(-1L).toDF("k")))
    assert(staged(dir) === pinned(n + 1))
  }

  test("scratch wipes earlier contents") {
    val base = Replay.scratch(spark, "replay_spec", sfDir)
    val stale = new java.io.File(base, "stale")
    stale.getParentFile.mkdirs()
    assert(stale.createNewFile())
    assert(Replay.scratch(spark, "replay_spec", sfDir) === base)
    assert(!new java.io.File(base).exists())
  }

  test("structure: only Replay.scala drives the replay machinery") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    val files = Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "Replay.scala"),
      s"streaming sources not found under ${dir.getAbsolutePath}")
    val allowed = Map(
      "maxFilesPerTrigger" -> Set("Replay.scala"),
      "processAllAvailable" -> Set("Replay.scala"),
      "recentProgress" -> Set("Replay.scala"),
      "setLastModified" -> Set("Replay.scala"),
      "FileSystem.get" -> Set("Replay.scala", "Ingest.scala"))
    val offenders = for {
      f <- files
      text = java.nio.file.Files.readString(f.toPath)
      (token, owners) <- allowed
      if text.contains(token) && !owners(f.getName)
    } yield s"${f.getName}: $token"
    assert(offenders.isEmpty,
      s"use streaming.Replay instead of: ${offenders.mkString(", ")}")
  }
}
