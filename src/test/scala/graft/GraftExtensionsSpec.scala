package graft

import graft.ops.Search
import graft.plans.{PageTotal, TopKPerKey}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The engine's extensions come with the session: a session that
  * [[GraftSession.builder]] built, and every `newSession()` of it,
  * resolves the SQL functions and plans the TopKPerKey and PageTotal
  * markers with no installer call and no call-time strategy mutation. */
class GraftExtensionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("a fresh newSession() has the SQL functions and the TopKPerKey strategy") {
    val fresh = spark.newSession()
    val d = fresh.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(d.getDouble(0) === 11.0)

    val df = fresh.range(12)
      .select((col("id") % 3).as("k"), col("id").cast("double").as("v"))
    val top = TopKPerKey.perKey(df, Seq("k"), "v", 2)
    assert(top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      Set((0L, 9.0), (0L, 6.0), (1L, 10.0), (1L, 7.0), (2L, 11.0), (2L, 8.0)))
    val plan = top.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[TopKPerKey.TopKPerKeyExec]).nonEmpty,
      s"no TopKPerKeyExec in\n$plan")
    assert(fresh.experimental.extraStrategies.isEmpty)
  }

  test("a fresh newSession() plans a listing through the PageTotal strategy") {
    val fresh = spark.newSession()
    val page = Search.listingPage(fresh, sfDir, "widget")
    assert(page.collect().nonEmpty)
    val plan = page.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[PageTotal.PageTotalExec]).nonEmpty,
      s"no PageTotalExec in\n$plan")
  }
}
