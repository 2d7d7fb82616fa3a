package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import graft.streaming.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** `ingest`: a crawl job's backlog of page items drained into a
  * pre-seeded corpus through the program's streaming ingest
  * (`Ingest.run`, one staged file per micro-batch). The unit of work is
  * the micro-batch: its time runs from its trigger until its commit
  * (`triggerExecution`), after which its pages are searchable. */
object IngestWorkload {

  val ItemSchema = "url STRING, title STRING, meta_description STRING, " +
    "meta_tags MAP<STRING, STRING>, content STRING, file_type STRING, " +
    "embedding_type STRING"

  def items(ctx: Ctx, file: String): DataFrame =
    ctx.spark.read.schema(ItemSchema).parquet(file)

  /** Write the pre-seeded corpus through the program's own transform:
    * slice i is stamped i hours after a fixed epoch, so later slices are
    * the recently crawled ones. */
  def stageCorpus(ctx: Ctx, slices: Seq[String], dir: String): Unit = {
    val t0 = Timestamp.valueOf("2025-01-01 00:00:00").getTime
    slices.zipWithIndex.map { case (f, i) =>
      Ingest.transformBatch(items(ctx, f), new Timestamp(t0 + i * 3600000L))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(dir)
  }

  final case class Drain(files: Seq[String], wallMs: Double,
      progress: Seq[StreamingQueryProgress])

  /** A running `Ingest.run` on a staging directory that is still empty,
    * past its first trigger: a long-running ingest waiting for work. */
  final case class Running(q: StreamingQuery, stage: File, dir: String)

  def start(ctx: Ctx, corpus: String, dir: String): Running = {
    val stage = new File(dir, "stage")
    stage.mkdirs()
    val q = ctx.tracer.span("ingest.run") {
      val src = ctx.spark.readStream.schema(ItemSchema)
        .option("maxFilesPerTrigger", 1).parquet(stage.getAbsolutePath)
      Ingest.run(ctx.spark, src, corpus, s"$dir/ckpt")
    }
    q.processAllAvailable()
    Running(q, stage, dir)
  }

  /** One backlog: stage `files` into the running ingest (oldest first,
    * by modification time, the order the file source reads them in; each
    * moved in whole, so no trigger sees a partial file), wait until every
    * file is committed, and stop the query. */
  def drain(ctx: Ctx, r: Running, files: Seq[String]): Drain =
    try {
      val incoming = new File(r.dir, "incoming")
      incoming.mkdirs()
      val now = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val staged = files.zipWithIndex.map { case (f, i) =>
        val tmp = new File(incoming, f"part-$i%04d.parquet")
        Files.copy(new File(f).toPath, tmp.toPath)
        tmp.setLastModified(now - (files.size - i) * 1000L)
        val dst = new File(r.stage, tmp.getName)
        Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.getAbsolutePath
      }
      ctx.tracer.span("ingest.drain")(r.q.processAllAvailable())
      val wallMs = Stats.ms(t0, System.nanoTime())
      r.q.exception.foreach(e => throw e)
      Drain(staged, wallMs, r.q.recentProgress.filter(_.numInputRows > 0)
        .sortBy(_.batchId).toSeq)
    } finally r.q.stop()

  private def maxCrawledMs(df: DataFrame): Long =
    df.agg(max(col("last_crawled"))).collect().head.getTimestamp(0).getTime

  final case class Replay(ok: Boolean, accepted: Seq[Long], detail: String)

  /** The corpus the drains must have built: one `Ingest.upsertInto` of
    * every batch, each stamped as `Ingest.run` stamps it (one past the
    * corpus's newest stamp at the drain's start, plus the batch id). */
  def replay(ctx: Ctx, corpus0: String, drains: Seq[Drain], corpus: String): Replay = {
    if (drains.isEmpty) return Replay(ok = false, Nil, "no drain completed")
    val state0 = ctx.spark.read.parquet(corpus0)
    var base = maxCrawledMs(state0) + 1
    val batches = drains.flatMap { d =>
      val stamped = d.files.zipWithIndex.map { case (f, b) =>
        Ingest.transformBatch(items(ctx, f), new Timestamp(base + b))
      }
      base += d.files.size
      stamped
    }
    val accepted = batches.map(_.count())
    val expected = Ingest.upsertInto(state0, batches.reduce(_ unionByName _))
    val (want, got) = (Digest.of(expected), Digest.of(ctx.spark.read.parquet(corpus)))
    val batchesOk = drains.forall(d => d.progress.size == d.files.size)
    Replay(want == got && batchesOk, accepted,
      s"expected $want got $got, batches " +
        drains.map(d => s"${d.progress.size}/${d.files.size}").mkString(","))
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    deleteDir(new File(to))
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  private def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteDir)
    f.delete()
  }

  private def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Stage the corpus, warm up on `warm`, start the timed `Ingest.run`,
    * then hand it `backlog`, drained one file per micro-batch. The
    * query's start is set-up: a deployed ingest keeps running between
    * crawl jobs. */
  def run(ctx: Ctx, slices: Seq[String], warm: Seq[String],
      backlog: Seq[String], onSetupDone: () => Unit): PhaseOut = {
    val root = s"${ctx.work}/ingest"
    val corpus0 = s"$root/corpus0"
    val corpus = s"$root/corpus"
    ctx.tracer.span("setup.stage")(stageCorpus(ctx, slices, corpus0))
    if (warm.nonEmpty) ctx.tracer.span("setup.warmup") {
      copyDir(corpus0, corpus)
      drain(ctx, start(ctx, corpus, s"$root/warm"), warm)
    }
    copyDir(corpus0, corpus)
    val running = start(ctx, corpus, s"$root/drain")
    onSetupDone()
    val before = ctx.tally(Counters.Total)
    val jvm0 = JvmTimes.now()
    val drained =
      try Right(ctx.tracer.span("ingest.window")(drain(ctx, running, backlog)))
      catch { case e: Throwable => Left(s"ingest drain: $e") }
    val windowJvm = JvmTimes.since(jvm0)
    val during = ctx.tally(Counters.Total).minus(before)
    val drains = drained.toSeq
    val rep = replay(ctx, corpus0, drains, corpus)
    val offered = drains.map(_.progress.map(_.numInputRows).sum).sum
    val accepted = rep.accepted.sum
    val progress = drains.flatMap(_.progress)
    val batchMs = progress.map(durMs(_, "triggerExecution"))
    val wallMs = drains.map(_.wallMs).sum
    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else Seq("addBatch", "getBatch", "walCommit", "queryPlanning",
          "latestOffset").map { k =>
          s"ingest.${k}_ms" -> Stats.median(progress.map(durMs(_, k)))
        }.toMap ++ Map(
          "ingest.batch_p50_ms" -> Stats.median(batchMs),
          "ingest.pages_per_s" -> accepted / (wallMs / 1000),
          "ingest.bytes_written_per_page" -> during.outputBytes.toDouble / accepted,
          "ingest.accept_ratio" -> accepted.toDouble / offered) ++
          probe(ctx, backlog.take(3), corpus, s"$root/probe")
    val errors = drained.left.toSeq ++
      (if (rep.ok) Nil else Seq(s"ingest replay mismatch: ${rep.detail}"))
    // a drain that threw leaves the corpus unverifiable: every batch fails
    // and enters the samples as the timeout, so it never reads fast
    val samples =
      if (drained.isRight) batchMs
      else Seq.fill(backlog.size)(ServeWorkload.TimeoutMs.toDouble)
    PhaseOut(samples, backlog.size, if (errors.isEmpty) 0 else backlog.size,
      errors, layers,
      Map("batches" -> progress.size, "offered_pages" -> offered,
        "accepted_pages" -> accepted, "drain_wall_ms" -> wallMs,
        "window_jvm_ms" -> windowJvm))
  }

  /** The two per-batch stages timed from the benchmark's side, after the
    * drains: the transform fully consumed, and the upsert of an already
    * transformed batch into the drained corpus, written out. */
  private def probe(ctx: Ctx, files: Seq[String], corpus: String,
      dir: String): Map[String, Double] = {
    val stamp = new Timestamp(System.currentTimeMillis())
    val timings = files.map { f =>
      val transformMs = ctx.tracer.span("ingest.transform")(Stats.timed(
        Ingest.transformBatch(items(ctx, f), stamp)
          .write.format("noop").mode("overwrite").save())._2)
      val batch = Ingest.transformBatch(items(ctx, f), stamp).localCheckpoint()
      val upsertMs = ctx.tracer.span("ingest.upsert")(Stats.timed(
        Ingest.upsertInto(ctx.spark.read.parquet(corpus), batch)
          .write.mode("overwrite").parquet(dir))._2)
      (transformMs, upsertMs)
    }
    Map("ingest.transform_ms" -> Stats.median(timings.map(_._1)),
      "ingest.upsert_ms" -> Stats.median(timings.map(_._2)))
  }
}
