package graft.tools

import graft.ops.{KMeans, PinSyntax}

/** Breakdown probe for the ADAPTIVE doc-model path (r13: flat Lloyd
  * at the gate K, two-level tree above it — [[KMeans.fitVecsTree]]).
  * Times the fit+final-assignment alone (materialized via
  * pin, same barrier as [[ProbeSemDedupK]]) so ladder
  * legs can separate the fit from each consumer's own stages.
  *
  * {{{ sbt "runMain graft.tools.ProbeDocModel /dev/shm/graft_scale/x30 3" }}}
  */
object ProbeDocModel {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val times = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      val (model, assigned) = KMeans.docModelAndAssignments(spark, sfDir)
      val a = assigned.pin()
      val t1 = System.nanoTime()
      val k = model.count()
      val n = a.count()
      val sec = (t1 - t0) / 1e9
      println(f"PROBE_DOCMODEL rep=$rep sec=$sec%.3f k=$k n=$n")
      graft.GraftSession.scrub(spark)
      sec
    }
    println(f"PROBE_DOCMODEL_MIN min=${times.min}%.3f")
    spark.stop()
  }
}
