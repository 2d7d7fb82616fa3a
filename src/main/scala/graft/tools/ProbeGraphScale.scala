package graft.tools

import graft.ops.{Graph, PinSyntax}
import org.apache.spark.sql.functions._

/** Scale probe for the iterative rank-loop family (q66/q75/q110):
  * the DECLARED graphs derive from `lineitem` through a fixed
  * pmod-2000 node space, and staging byte-copies lineitem, so
  * staged-corpus ladders measure a constant graph by design (r13:
  * q110 read 3.8/3.9 s at x1/x30). The family's scale question is
  * per-iteration EDGE-SHUFFLE linearity, so this probe grows the
  * edge list itself: a deterministic hash-mixed graph with
  * N = 200k·m nodes and E = 1M·m edges, driven through the SAME
  * [[Graph.hitsOver]] loop the declared query runs. m = 1 sits on
  * the small-graph broadcast path, m ≥ 5 crosses
  * [[graft.ops.Materialize.SmallRows]] onto the full shuffle path — read legs
  * within a mode, not across the switch.
  *
  * {{{ sbt "runMain graft.tools.ProbeGraphScale 10 2" }}}
  */
object ProbeGraphScale {

  def main(args: Array[String]): Unit = {
    val m = args(0).toInt
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nNodes = 200000L * m
    val nEdges = 1000000L * m
    // staged PER REP: the inter-rep scrub clears local checkpoints
    def stageEdges() = spark.range(nEdges)
      .select(pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
        pmod(xxhash64(col("id") + nEdges), lit(nNodes)).as("dst"))
      .distinct()
      .pin() // probe the loop, not the generator
    var e = 0L
    val times = (1 to reps).map { rep =>
      val edges = stageEdges()
      e = edges.count()
      val t0 = System.nanoTime()
      val top = Graph.hitsOver(edges).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE_GRAPH m=$m rep=$rep sec=$sec%.3f nodes=$nNodes " +
        s"edges=$e top=${top.headOption.map(_.getLong(0)).getOrElse(-1L)}")
      graft.GraftSession.scrub(spark)
      sec
    }
    println(f"PROBE_GRAPH_MIN m=$m min=${times.min}%.3f edges=$e")
    spark.stop()
  }
}
