package graft.plans

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.LongType

/** A page of an ordered relation together with the relation's size,
  * from one scan and one job: the shape of the reference's listing,
  * which runs the page query and a separate `COUNT` (`search.py:47-74`).
  *
  * The rows pass through a `count(1)` metric (Spark's `CollectMetrics`,
  * the node behind `Dataset.observe`) on their way into the ordered
  * limit, so the scan that feeds each partition's top-k heap also
  * counts every row it feeds. The limit plans as TakeOrderedAndProject
  * as before: per-partition `(offset+limit)`-row heaps and one
  * `k·P`-row merge on the driver. On top sits [[PageTotalExec]]: it
  * collects the page and puts the count, which the metric's
  * accumulator holds once that same job has ended, in front of each
  * row. A count as its own aggregate would scan the rows a second time
  * and need its own jobs, and a `count(*) over ()` window would move
  * every row into one task.
  *
  * The frame stays lazy: building it launches no job. The metric's
  * accumulator lives in the physical plan and resets when the plan
  * executes, so every execution counts afresh, and two requests never
  * share a count (each request builds its own plan).
  */
object PageTotal {

  /** Logical marker: `child` (a page whose rows passed the metric
    * `metric`) with the metric's count prepended as `total`. */
  case class PageTotalNode(total: Attribute, metric: String,
      child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = total +: child.output
    override def producedAttributes: AttributeSet = AttributeSet(total)
    // the page is emitted whole, so column pruning must not reach
    // below the node (it would split the ordered limit from its
    // projection)
    override def references: AttributeSet = child.outputSet
    override protected def withNewChildInternal(c: LogicalPlan) =
      copy(child = c)
  }

  /** Planner strategy: one-to-one lowering of the marker node. */
  object PageTotalStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PageTotalNode(total, metric, child) =>
        PageTotalExec(total, metric, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Physical operator: the child's collected rows, each behind the
    * count that the child's `metric` collected in the same job. */
  case class PageTotalExec(total: Attribute, metric: String,
      child: SparkPlan) extends UnaryExecNode {

    override def output: Seq[Attribute] = total +: child.output
    override def producedAttributes: AttributeSet = AttributeSet(total)

    private def counter: CollectMetricsExec = child.collectFirst {
      case c: CollectMetricsExec if c.name == metric => c
    }.getOrElse(throw new IllegalStateException(
      s"no metric $metric below the page:\n$child"))

    override def executeCollect(): Array[InternalRow] = {
      // TakeOrderedAndProject stops reading a partition after `limit`
      // rows when its input already arrives in page order, which would
      // cut the count short: fail rather than answer a wrong total
      child match {
        case t: TakeOrderedAndProjectExec
            if SortOrder.orderingSatisfies(t.child.outputOrdering, t.sortOrder) =>
          throw new IllegalStateException(
            s"the page's input is already sorted, so $metric would not count it all:\n$child")
        case _ =>
      }
      val page = child.executeCollect()
      if (page.isEmpty) page
      else {
        val n = InternalRow(counter.collectedMetrics.getLong(0))
        val joined = new JoinedRow
        val toUnsafe = UnsafeProjection.create(output.map(_.dataType).toArray)
        page.map(r => toUnsafe(joined(n, r)).copy())
      }
    }

    // a consumer that reads the page as an RDD (a count, a join) gets
    // the collected page as one partition: it is at most `limit` rows,
    // and an aggregate over it needs no exchange
    override def outputPartitioning: Partitioning = SinglePartition

    override protected def doExecute(): RDD[InternalRow] =
      sparkContext.parallelize(executeCollect().toSeq, 1)

    override protected def withNewChildInternal(c: SparkPlan) =
      copy(child = c)
  }

  private val metricIds = new AtomicLong

  /** Rows `offset` until `offset + limit` of `rows` ordered by
    * `order`, projected to `columns`, behind a non-null long `total`
    * column that counts every row of `rows`; empty when that range
    * holds no row. Plans through [[PageTotalStrategy]], which
    * [[graft.GraftExtensions]] installs in every session
    * [[graft.GraftSession.builder]] builds. */
  def page(rows: DataFrame, order: Seq[Column], offset: Int, limit: Int,
      columns: Seq[Column]): DataFrame = {
    // a metric name is unique within a plan, so each page gets its own
    val metric = s"page_total_${metricIds.incrementAndGet()}"
    val paged = rows.observe(metric, count(lit(1)))
      .orderBy(order: _*).offset(offset).limit(limit)
      .select(columns: _*)
    graft.expressions.ColumnBridge.ofRows(rows.sparkSession,
      PageTotalNode(AttributeReference("total", LongType, nullable = false)(),
        metric, paged.queryExecution.analyzed))
  }
}
