package graft.tools

import graft.ops.PinSyntax
import org.apache.spark.sql.functions._

/** Plan evidence for the r15 re-centering change: the fit loops run
  * behind pin barriers, so the declared queries' final
  * plans cannot show the explode → native-aggregate diff — this dumps
  * the UPDATE SUBTREE's own `.explain("formatted")` for both shapes
  * over the same staged assignment.
  *
  * {{{ tools/run_graft.sh graft.tools.ExplainRecenter /root/testdata/sf0.1 plans/r15 }}}
  */
object ExplainRecenter {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val assigned = graft.ops.KMeans.docVectors(spark, sfDir)
      .select(pmod(col("vec_id"), lit(10)).cast("int").as("cid"), col("v"))
      .pin()
    def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name"), plan)
      println(s"wrote $outDir/$name (${plan.length} chars)")
    }
    dump(graft.ops.KMeans.updateDocByExplode(assigned, Seq("cid")),
      "recenter_subtree_before.txt")
    dump(graft.ops.KMeans.updateDocBy(assigned, Seq("cid")),
      "recenter_subtree_after.txt")
    spark.stop()
  }
}
