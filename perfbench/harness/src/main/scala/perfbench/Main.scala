package perfbench

import java.lang.management.ManagementFactory
import graft.GraftSession

/** One benchmark run in one fresh JVM with one `GraftSession` session.
  *
  * Usage: Main --workload serve|ingest|curate --trace 0|1 --seconds S
  *   --inputs DIR --work DIR --cores N --launched-ms EPOCH_MS --out FILE
  *
  * The main phase runs the named workload. A traced run then adds a short
  * phase of each other workload, so every per-layer metric is reported
  * on every workload, and writes its spans to `work/spans.jsonl`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val inputs = opt("inputs")
    val work = opt("work")
    val cores = opt("cores").toInt
    val launched = opt("launched-ms").toLong
    val tracer = new Tracer(traced)

    val (spark, sessionMs) = Stats.timed(tracer.span("session.start") {
      GraftSession.builder(cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    })
    spark.sparkContext.setLogLevel("WARN")
    val counters = if (traced) Some(new Counters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, inputs, work, cores, tracer, counters)

    var setupS = Double.NaN
    val setupDone = () => setupS = (System.currentTimeMillis() - launched) / 1000.0
    val files = (sub: String) =>
      Option(new java.io.File(s"$inputs/$sub").listFiles).toSeq.flatten
        .map(_.getAbsolutePath).filter(_.endsWith(".parquet")).sorted
    val slices = files("preseed")
    val items = files("items")
    val reqs = (name: String) => ServeWorkload.load(s"$inputs/$name.tsv")

    def phase(name: String, full: Boolean, onSetup: () => Unit): PhaseOut =
      tracer.span(s"phase.$name") {
        (name, full) match {
          case ("serve", true) =>
            ServeWorkload.run(ctx, reqs("warm_requests"), reqs("requests"), onSetup)
          case ("serve", false) =>
            ServeWorkload.run(ctx, Nil, reqs("mini_requests"), onSetup)
          case ("ingest", true) =>
            IngestWorkload.run(ctx, slices, items.take(4),
              items.drop(4).dropRight(2), onSetup)
          case ("ingest", false) =>
            IngestWorkload.run(ctx, slices.take(1), Nil, items.takeRight(2),
              onSetup)
          case ("curate", full) =>
            CurateWorkload.run(ctx, if (full) seconds else 0, onSetup)
          case _ => sys.error(s"unknown workload $name")
        }
      }

    writeOracleSql(s"$work/oracle_sql.json")
    val main = phase(workload, full = true, setupDone)
    val minis =
      if (!traced) Nil
      else Seq("serve", "ingest", "curate").filter(_ != workload)
        .map(phase(_, full = false, () => ()))
    val all = main +: minis

    if (traced) tracer.write(s"$work/spans.jsonl")
    val jvm = JvmTimes.now()
    val heapMb = liveHeapMb()
    val layers =
      if (!traced) Map.empty[String, Double]
      else all.flatMap(_.layers).toMap ++ Map(
        "session.start_ms" -> sessionMs, "jvm.gc_ms" -> jvm("gc_ms"),
        "jvm.jit_ms" -> jvm("jit_ms"))
    val result = Json.obj(
      "workload" -> workload, "traced" -> traced,
      "setup_s" -> setupS, "live_heap_mb" -> heapMb,
      "samples_ms" -> main.samplesMs,
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> all.map(_.failed).sum,
      "errors" -> all.flatMap(_.errors).take(20),
      "layers" -> layers,
      "spans" -> (if (traced) tracer.summary else Map.empty),
      "info" -> main.info,
      "job_sites" -> counters.map(_.jobSites(30)).getOrElse(Nil).map {
        case (site, n) => Seq(site, n) })
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.println(result) finally out.close()
    spark.stop()
  }

  /** The program's DuckDB oracle SQL for every checked answer. */
  private def writeOracleSql(path: String): Unit = {
    val queries = ServeWorkloadQueries ++ CurateWorkload.Ops.map(_._2)
    val sql = graft.SparkEntry.oracleSql
    val out = new java.io.PrintWriter(path, "UTF-8")
    try out.println(Json.obj(Seq("web_pages_cte" -> graft.Corpus.webPagesCte,
      "web_pages_emb_cte" -> graft.Corpus.webPagesEmbCte) ++
      queries.map(q => q -> sql(q)): _*))
    finally out.close()
  }

  private val ServeWorkloadQueries = Seq("q8_dashboard", "q10_semantic_search",
    "q11_snippet_search", "q12_rag_context")

  /** Heap in use after full collections, in MiB. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
