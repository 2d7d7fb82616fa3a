package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload phase shares: the session, where its inputs and
  * scratch space are, the tracer and (in a traced run) the counters. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val cores: Int, val tracer: Tracer, val counters: Option[Counters]) {

  /** The generated parquet tables, read through the program's `Tables`. */
  def tables: String = s"$inputs/tables"

  /** Run `body` with the jobs it submits counted under `scope`. */
  def scoped[T](scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Counters.ScopeKey)
    sc.setLocalProperty(Counters.ScopeKey, scope)
    try body finally sc.setLocalProperty(Counters.ScopeKey, prev)
  }

  /** Counter totals for `scope` once every event so far has arrived. */
  def tally(scope: String): Counters.Tally =
    counters.map { c => c.settle(spark.sparkContext); c.snapshot(scope) }
      .getOrElse(new Counters.Tally)
}

/** One phase's outcome. `samplesMs` are the end-to-end latencies of the
  * phase's unit of work; `layers` are per-layer metrics (traced runs). */
final case class PhaseOut(samplesMs: Seq[Double], attempted: Int, failed: Int,
    errors: Seq[String], layers: Map[String, Double], info: Map[String, Any])

/** Process CPU, JIT compiler and garbage collector time, in ms. The
  * window's share shows on the `# run` line: it tells the program's own
  * work apart from the JVM's during the measured window. */
object JvmTimes {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def now(): Map[String, Double] = Map(
    "cpu_ms" -> (ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e6
      case _ => Double.NaN
    }),
    "jit_ms" -> ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime.toDouble,
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble)

  def since(t0: Map[String, Double]): Map[String, Double] =
    now().map { case (k, v) => k -> (v - t0(k)) }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0, System.nanoTime()))
  }
}
