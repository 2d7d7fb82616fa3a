package graft.tools

import graft.{Bench, BenchOne, GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler for named SparkEntry queries, on the bench child's
  * protocol in one session: [[BenchOne.warm]], then one `CALIB` line
  * (1 warm + 3 timed [[Bench.calibrate]] runs as min/median/max, and
  * the load average), then each `key=value` argument set as a session
  * conf. Per query and rep it prints one `PROFILE` line — wall, rows,
  * JIT and GC ms, the number of jobs, their summed wall, and the
  * driver gap (wall outside any job: planning, codegen, driver-side
  * work) — and one line per job with its wall and call site. Scrub and
  * a bounded JIT drain run between reps, outside the measured window.
  *
  * `checksum` consumes each query with `count(1)` plus a
  * `bit_xor(xxhash64(struct(*)))` over every output column instead of
  * `count()`. For pure-projection queries (q31, q59, q227) `count()`
  * lets Catalyst prune the computed columns and measures only the
  * scan; the checksum forces the work a real writer would pay.
  *
  * {{{ tools/run_graft.sh graft.tools.Profile /root/testdata/sf0.1 2 spark.sql.codegen.wholeStage=false checksum q75_pagerank_full }}}
  */
object Profile {

  private final case class Job(id: Int, desc: String, start: Long, var end: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val (confs, rest) = args.drop(2).toSeq.partition(_.contains("="))
    val checksum = rest.contains("checksum")
    val names = rest.filterNot(_ == "checksum")
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    BenchOne.warm(spark, sfDir, names)
    Bench.calibrate(spark)
    val calib = (1 to 3).map(_ => Bench.calibrate(spark)).sorted
    println(f"CALIB tri=${calib(0)}%.3f/${calib(1)}%.3f/${calib(2)}%.3f " +
      f"load=${Bench.loadAvg()}%.2f")
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val stages = js.stageInfos.map(si =>
          si.name.takeWhile(_ != '\n').take(60)).mkString(" | ")
        jobs.put(js.jobId, Job(js.jobId, s"$site  [$stages]", System.nanoTime(), 0L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = System.nanoTime()
      }
    })
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    for (name <- names; rep <- 1 to reps) {
      jobs.clear()
      val jit0 = jit.getTotalCompilationTime
      val gc0 = BenchOne.gcMs
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val (rows, cks) =
        if (checksum) {
          val r = df.selectExpr("count(1)", "bit_xor(xxhash64(struct(*)))").head()
          (r.getLong(0), s" checksum=${r.get(1)}")
        } else (df.count(), "")
      val wall = (System.nanoTime() - t0) / 1e9
      val jitMs = jit.getTotalCompilationTime - jit0
      val gcMs = BenchOne.gcMs - gc0
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
        .filter(j => j.end > 0 && j.start >= t0)
      val jobSum = js.map(j => (j.end - j.start) / 1e9).sum
      println(f"PROFILE $name rep=$rep wall=$wall%.3f rows=$rows " +
        s"jit=${jitMs}ms gc=${gcMs}ms " +
        f"jobs=${js.size} jobSum=$jobSum%.3f gap=${wall - jobSum}%.3f$cks")
      js.foreach { j =>
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e9}%7.3f s  ${j.desc}")
      }
      GraftSession.scrub(spark)
      BenchOne.drainJit(jit, 15L)
    }
    spark.stop()
  }
}
