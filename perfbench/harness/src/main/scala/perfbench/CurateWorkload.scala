package perfbench

import graft.GraftSession
import graft.ops.{Components, Dedup, Graph, Manifest, Similarity}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** `curate`: a data engineer's corpus-curation build — one pass runs the
  * six curation operators back to back, each fully consumed. The unit
  * of work is the pass. */
object CurateWorkload {

  /** (metric name, declared query whose oracle SQL certifies it, op). */
  val Ops: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("exactDedup", "q22_exact_dedup", Dedup.exactDedup),
    ("minhashLsh", "q24_minhash_lsh", Dedup.minhashLsh),
    ("embeddingNearDup", "q27_embedding_near_dup", Similarity.embeddingNearDup),
    ("dedupGroups", "q53_dedup_groups", Components.dedupGroups),
    ("pageRank", "q66_pagerank", Graph.pageRank),
    ("buildManifest", "q200_build_manifest", Manifest.buildManifest))

  /** The result digest rides on the consuming action. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    val cols = Digest.columns(df)
    (df.observe(o, cols.head, cols.tail: _*), o)
  }

  private def digestOf(o: Observation): String = {
    val m = o.get
    Seq("n", "x", "s").map(k => String.valueOf(m(k))).mkString("/")
  }

  final case class OpRun(name: String, ms: Double, digest: String,
      answer: Option[String], error: Option[String])

  /** One op call with its full output consumed: collected (the reference
    * pass, whose rows go to the oracle check) or written to noop. */
  private def runOp(ctx: Ctx, name: String, query: String,
      op: (SparkSession, String) => DataFrame, collect: Boolean): OpRun =
    ctx.tracer.span(s"curate.$name") {
      val t0 = System.nanoTime()
      try {
        val (df, o) = observed(op(ctx.spark, ctx.tables))
        val answer =
          if (collect) Some(Json.obj("op" -> name, "query" -> query,
            "columns" -> df.columns.toSeq, "rows" -> df.collect().toSeq))
          else { df.write.format("noop").mode("overwrite").save(); None }
        OpRun(name, Stats.ms(t0, System.nanoTime()), digestOf(o), answer, None)
      } catch {
        case e: Throwable =>
          OpRun(name, Stats.ms(t0, System.nanoTime()), "", None,
            Some(s"$name: $e"))
      }
    }

  final case class Pass(ops: Seq[OpRun], wallMs: Double, tally: Counters.Tally)

  def pass(ctx: Ctx, collect: Boolean): Pass = {
    val before = ctx.tally(Counters.Total)
    val t0 = System.nanoTime()
    val ops = ctx.tracer.span("curate.pass") {
      Ops.map { case (name, query, op) => runOp(ctx, name, query, op, collect) }
    }
    val wall = Stats.ms(t0, System.nanoTime())
    val tally = ctx.tally(Counters.Total).minus(before)
    GraftSession.scrub(ctx.spark)
    Pass(ops, wall, tally)
  }

  /** Passes from a cold start: a curation build is a batch job, so its
    * user pays the JVM's warm-up on every build and none is done before
    * timing. The first pass collects every op's rows for the oracle check
    * and is the reference later passes' digests must match; another pass
    * starts only if it is expected to end within `seconds`. */
  def run(ctx: Ctx, seconds: Double, onSetupDone: () => Unit): PhaseOut = {
    onSetupDone()
    val t0 = System.nanoTime()
    val ref = ctx.tracer.span("curate.window")(pass(ctx, collect = true))
    val passes = Vector.newBuilder[Pass] += ref
    var last = ref.wallMs
    while (Stats.ms(t0, System.nanoTime()) + last <= seconds * 1000) {
      val p = ctx.tracer.span("curate.window")(pass(ctx, collect = false))
      passes += p
      last = p.wallMs
    }
    val out = new java.io.PrintWriter(s"${ctx.work}/curate_answers.jsonl", "UTF-8")
    try ref.ops.flatMap(_.answer).foreach(out.println) finally out.close()
    val refDigest = ref.ops.map(r => r.name -> r.digest).toMap
    val runs = passes.result().flatMap(_.ops)
    val errors = runs.flatMap(_.error) ++ runs.filter { r =>
      r.error.isEmpty && r.digest != refDigest(r.name)
    }.map(r => s"${r.name}: digest ${r.digest} != reference ${refDigest(r.name)}")
    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        val ps = passes.result()
        val ts = ps.map(_.tally)
        def per(f: Counters.Tally => Double) = Stats.median(ts.map(f))
        Ops.map { case (name, _, _) =>
          s"curate.${name}_ms" ->
            Stats.median(ps.flatMap(_.ops).filter(_.name == name).map(_.ms))
        }.toMap ++ Map(
          "curate.pass_s" -> Stats.median(ps.map(_.wallMs)) / 1000,
          "curate.jobs" -> per(_.jobs.toDouble),
          "curate.tasks" -> per(_.tasks.toDouble),
          "curate.checkpoint_jobs" -> per(_.checkpointJobs.toDouble),
          "curate.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
          "curate.spill_bytes" -> per(_.spill.toDouble),
          "curate.cpu_util" -> Stats.median(ps.map(p =>
            p.tally.cpuNs / 1e6 / (p.wallMs * ctx.cores))))
      }
    PhaseOut(passes.result().map(_.wallMs), runs.size, errors.size, errors,
      layers, Map("passes" -> passes.result().size,
        "reference_digests" -> refDigest))
  }
}
