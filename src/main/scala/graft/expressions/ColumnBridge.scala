package graft.expressions

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one binding of Spark 4's private entry points: the Column ↔
  * Expression conversions behind the native expressions' Column APIs,
  * `Dataset.ofRows`, which wraps a custom logical node (such as
  * [[graft.plans.TopKPerKey]]'s) as a DataFrame, and
  * `SparkContext.unpersistRDD`, which drops a pin's blocks. They live in
  * private[sql] helpers whose static forms are public bytecode, so
  * bind them once here by reflection rather than shading into the
  * org.apache.spark namespace — and once only: the Spark-internal
  * classes have already moved across versions, and every caller
  * carrying its own copy turns the next upgrade into a grep hunt. */
private[graft] object ColumnBridge {
  private val exprUtils =
    Class.forName("org.apache.spark.sql.classic.ExpressionUtils")
  private val toColumn =
    exprUtils.getMethod("column", classOf[Expression])
  private val toExpression =
    exprUtils.getMethod("expression", classOf[Column])

  private val datasetClass =
    Class.forName("org.apache.spark.sql.classic.Dataset$")
  private val datasetModule = datasetClass.getField("MODULE$").get(null)
  private val ofRowsMethod = datasetClass.getMethods
    .find(m => m.getName == "ofRows" && m.getParameterCount == 2)
    .get

  private val unpersistRDD = classOf[SparkContext]
    .getMethod("unpersistRDD", classOf[Int], classOf[Boolean])
  private val isLocallyCheckpointed =
    classOf[RDD[_]].getMethod("isLocallyCheckpointed")

  /** `rdd.unpersist()`, without the warning that `RDD.unpersist` logs
    * for a locally checkpointed RDD (its lineage is truncated, so the
    * blocks cannot be recomputed): dropping a released pin's blocks is
    * the point, not a mistake. Any other RDD takes `RDD.unpersist`. */
  def unpersist(rdd: RDD[_]): Unit =
    if (isLocallyCheckpointed.invoke(rdd).asInstanceOf[Boolean])
      unpersistRDD.invoke(rdd.sparkContext, Int.box(rdd.id), Boolean.box(false))
    else rdd.unpersist()

  def column(e: Expression): Column =
    toColumn.invoke(null, e).asInstanceOf[Column]

  def expression(c: Column): Expression =
    toExpression.invoke(null, c).asInstanceOf[Expression]

  /** `plan` as a DataFrame of `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ofRowsMethod.invoke(datasetModule, spark, plan).asInstanceOf[DataFrame]
}
