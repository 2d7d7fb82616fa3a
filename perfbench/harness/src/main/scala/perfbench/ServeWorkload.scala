package perfbench

import java.util.concurrent.{Callable, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import graft.Corpus
import graft.ops.Search
import org.apache.spark.sql.DataFrame

/** `serve`: independent web users on an open loop. Requests arrive on a
  * seeded schedule (generated with the inputs) and are served by a pool
  * of `cores` threads; each request's latency is timed from when it was
  * due, so a stall also counts against the requests queued behind it. */
object ServeWorkload {

  final case class Req(id: String, kind: String, dueMs: Double, token: String,
      sortBy: String, asc: Boolean, offset: Int)

  final case class Served(req: Req, rows: Seq[String], latencyMs: Double,
      serviceMs: Double, buildMs: Double, planMs: Double, lateMs: Double,
      error: Option[String])

  val Kinds = Seq("listing", "semantic", "rag", "snippet", "dashboard")
  val TimeoutMs = 60000L

  /** requests.tsv: id, kind, due ms, listing token, sort column, asc,
    * offset. */
  def load(path: String): Seq[Req] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Req(f(0), f(1), f(2).toDouble, f(3), f(4), f(5) == "1", f(6).toInt)
    }.toVector finally src.close()
  }

  /** The serving call itself: build the response DataFrame. */
  def build(ctx: Ctx, r: Req): DataFrame = {
    val (s, d) = (ctx.spark, ctx.tables)
    r.kind match {
      case "listing" =>
        Search.listingPage(s, d, r.token, sortBy = r.sortBy, asc = r.asc,
          offset = r.offset, limit = 10)
      case "semantic" => Search.semanticSearch(s, d)
      case "rag" => Search.ragContext(s, d)
      case "snippet" => Search.snippetSearch(s, d)
      case "dashboard" => Search.dashboard(s, d)
    }
  }

  private def serve(ctx: Ctx, r: Req, dueNs: Long, lateMs: Double): Served =
    ctx.tracer.withRequest(r.id) {
      ctx.tracer.span("serve.request") {
        ctx.scoped(s"req:${r.id}") {
          val t0 = System.nanoTime()
          try {
            val (df, buildMs) = Stats.timed(
              ctx.tracer.span("corpus.build")(build(ctx, r)))
            val rows = ctx.tracer.span(s"search.${r.kind}")(df.collect())
            val t1 = System.nanoTime()
            val phases = df.queryExecution.tracker.phases
            val planMs = Seq("optimization", "planning")
              .flatMap(phases.get).map(_.durationMs.toDouble).sum
            Served(r, rows.map(Json.render).toSeq, Stats.ms(dueNs, t1),
              Stats.ms(t0, t1), buildMs, planMs, lateMs, None)
          } catch {
            case e: Throwable =>
              Served(r, Nil, Stats.ms(dueNs, System.nanoTime()),
                Stats.ms(t0, System.nanoTime()), 0, 0, lateMs,
                Some(s"${r.id}: $e"))
          }
        }
      }
    }

  final case class Loop(served: Seq[Served], wallMs: Double, inflightMax: Int)

  /** Dispatch `reqs` at their due times (ms after the start) to a pool
    * of `ctx.cores` threads and wait for every response. */
  def openLoop(ctx: Ctx, reqs: Seq[Req]): Loop = {
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val inflight = new AtomicInteger()
    val inflightMax = new AtomicInteger()
    val start = System.nanoTime() + 50L * 1000 * 1000
    try {
      val pending: Seq[(Req, Long, Future[Served])] = reqs.map { r =>
        val due = start + (r.dueMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val late = Stats.ms(due, now)
        inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
        (r, due, pool.submit(new Callable[Served] {
          def call(): Served =
            try serve(ctx, r, due, late) finally inflight.decrementAndGet()
        }))
      }
      val served = pending.map { case (r, due, f) =>
        val waitMs = TimeoutMs - Stats.ms(due, System.nanoTime()).toLong
        try f.get(math.max(waitMs, 1L), TimeUnit.MILLISECONDS)
        catch {
          case e: Throwable =>
            f.cancel(true)
            Served(r, Nil, TimeoutMs.toDouble, TimeoutMs.toDouble, 0, 0, 0,
              Some(s"${r.id}: $e"))
        }
      }
      Loop(served, Stats.ms(start, System.nanoTime()), inflightMax.get)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(TimeoutMs, TimeUnit.MILLISECONDS)
    }
  }

  /** The per-page embedding cost inside the semantic and RAG plans:
    * the corpus with embeddings minus the corpus without, both fully
    * consumed, median of `reps` alternating pairs. */
  def embedMs(ctx: Ctx, reps: Int): Double = {
    def noop(df: => DataFrame): Double =
      Stats.timed(df.write.format("noop").mode("overwrite").save())._2
    Stats.median((1 to reps).map { _ =>
      val withEmb = ctx.tracer.span("corpus.embed")(
        noop(Corpus.webPagesWithEmbeddings(ctx.spark, ctx.tables)))
      val plain = ctx.tracer.span("corpus.plain")(
        noop(Corpus.webPages(ctx.spark, ctx.tables)))
      withEmb - plain
    })
  }

  def writeAnswers(path: String, served: Seq[Served]): Unit = {
    val out = new java.io.PrintWriter(
      new java.io.FileOutputStream(path, true), true)
    try served.filter(_.error.isEmpty).foreach { s =>
      val r = s.req
      out.println(Json.obj("id" -> r.id, "kind" -> r.kind,
        "token" -> r.token, "sort_by" -> r.sortBy, "asc" -> r.asc,
        "offset" -> r.offset, "rows" -> s.rows.map(Json.Raw)))
    } finally out.close()
  }

  /** Warm up on `warm`, time `timed`, then (traced) measure the embed
    * layer. `onSetupDone` marks the end of set-up. */
  def run(ctx: Ctx, warm: Seq[Req], timed: Seq[Req],
      onSetupDone: () => Unit): PhaseOut = {
    val answers = s"${ctx.work}/serve_answers.jsonl"
    val w = ctx.tracer.span("setup.warmup")(openLoop(ctx, warm.map(_.copy(dueMs = 0))))
    writeAnswers(answers, w.served)
    onSetupDone()
    val jvm0 = JvmTimes.now()
    val loop = ctx.tracer.span("serve.window")(openLoop(ctx, timed))
    val windowJvm = JvmTimes.since(jvm0)
    writeAnswers(answers, loop.served)
    val ok = loop.served.filter(_.error.isEmpty)
    val errors = (w.served ++ loop.served).flatMap(_.error)
    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        val tallies = ok.map(s => ctx.tally(s"req:${s.req.id}"))
        val n = math.max(ok.size, 1).toDouble
        val cpuMs = tallies.map(_.cpuNs).sum / 1e6
        val lat = loop.served.map(_.latencyMs)
        Kinds.map { k =>
          s"search.$k.p50_ms" ->
            Stats.median(ok.filter(_.req.kind == k).map(_.serviceMs))
        }.toMap ++ Map(
          "corpus.build_ms" -> Stats.median(ok.map(_.buildMs)),
          "search.plan_ms" -> Stats.median(ok.map(_.planMs)),
          "search.jobs_per_req" -> tallies.map(_.jobs).sum / n,
          "search.tasks_per_req" -> tallies.map(_.tasks).sum / n,
          "search.cpu_ms_per_req" -> cpuMs / n,
          "search.cpu_util" -> cpuMs / (loop.wallMs * ctx.cores),
          "serve.p50_ms" -> Stats.pct(lat, 0.5),
          "serve.p95_ms" -> Stats.pct(lat, 0.95),
          "loadgen.late_p95_ms" -> Stats.pct(loop.served.map(_.lateMs), 0.95),
          "serve.inflight_max" -> loop.inflightMax.toDouble,
          "corpus.embed_ms" -> embedMs(ctx, 3))
      }
    val counts = timed.groupBy(_.kind).map { case (k, v) => k -> v.size }
    // a failed request never reads fast: it counts as the timeout
    val samples = loop.served.map(s =>
      if (s.error.isEmpty) s.latencyMs else TimeoutMs.toDouble)
    PhaseOut(samples, w.served.size + timed.size,
      errors.size, errors, layers,
      Map("requests" -> counts, "warmup_requests" -> warm.size,
        "window_ms" -> loop.wallMs, "window_jvm_ms" -> windowJvm))
  }
}
