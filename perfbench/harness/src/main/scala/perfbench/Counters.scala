package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark's own job and task counters, summed per scope.
  *
  * The scope is the `perfbench.scope` local property of the thread that
  * submitted the job (a serving request id, or a phase name); jobs
  * submitted without one count under "". Every job also counts under the
  * run-wide total "*". */
final class Counters extends SparkListener {
  import Counters._

  private val byScope = new ConcurrentHashMap[String, Tally]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val sites = new ConcurrentHashMap[String, java.lang.Long]()

  private def tally(scope: String): Tally =
    byScope.computeIfAbsent(scope, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val scope = props.flatMap(p => Option(p.getProperty(ScopeKey))).getOrElse("")
    // the result stage is named after the job's call site
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    e.stageIds.foreach(id => stageScope.put(id, scope))
    sites.merge(site, 1L, (a, b) => a + b)
    val checkpoint = site.toLowerCase.contains("checkpoint")
    Seq(tally(scope), tally(Total)).foreach { t =>
      t.synchronized {
        t.jobs += 1
        if (checkpoint) t.checkpointJobs += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val scope = Option(stageScope.get(e.stageId)).getOrElse("")
    Seq(tally(scope), tally(Total)).foreach { t =>
      t.synchronized {
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until every event posted so far has reached this listener. */
  def settle(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Jobs per call site, most frequent first. */
  def jobSites(top: Int): Seq[(String, Long)] =
    sites.asScala.toSeq.map { case (k, v) => k -> v.longValue }
      .sortBy(-_._2).take(top)

  def snapshot(scope: String): Tally =
    Option(byScope.get(scope)).map(_.copy()).getOrElse(new Tally)
}

object Counters {
  val ScopeKey = "perfbench.scope"
  val Total = "*"

  final class Tally {
    var jobs = 0L
    var checkpointJobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L

    def copy(): Tally = synchronized {
      val t = new Tally
      t.jobs = jobs; t.checkpointJobs = checkpointJobs; t.tasks = tasks
      t.cpuNs = cpuNs
      t.shuffleWrite = shuffleWrite; t.spill = spill
      t.outputBytes = outputBytes
      t
    }

    def minus(o: Tally): Tally = {
      val t = new Tally
      t.jobs = jobs - o.jobs; t.checkpointJobs = checkpointJobs - o.checkpointJobs
      t.tasks = tasks - o.tasks; t.cpuNs = cpuNs - o.cpuNs
      t.shuffleWrite = shuffleWrite - o.shuffleWrite; t.spill = spill - o.spill
      t.outputBytes = outputBytes - o.outputBytes
      t
    }
  }
}
