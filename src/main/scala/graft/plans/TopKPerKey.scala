package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Whole-operator extension demo: per-key top-k as a first-class
  * physical operator (LogicalPlan marker → Strategy → Exec), the
  * full custom-operator surface (preference ladder (c) in SURVEY
  * §2.J / the Spark guide).
  *
  * The built-in formulation — `row_number().over(partitionBy(key)
  * .orderBy(score))` then `filter(rn <= k)` — SORTS every partition
  * (O(n log n) per key group, full materialization in the window
  * exec). This operator keeps a bounded k-heap per key instead:
  * O(n log k) time, O(keys·k) memory, same required hash
  * distribution (Spark still inserts the shuffle on the key), no
  * sort. At 100 TB with millions of keys and k≈5 the sort is the
  * dominant avoidable cost in every "top-k per query/user/domain"
  * query.
  */
object TopKPerKey {

  /** Logical marker node: holds column NAMES so analysis stays
    * trivial (resolved ⇔ child resolved); the strategy binds them
    * against the child's resolved output. */
  case class TopKPerKeyNode(keyCols: Seq[String], orderCol: String,
      k: Int, desc: Boolean, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    // the node consumes every child column (it re-emits whole rows),
    // so column pruning must not strip anything beneath it — without
    // this, `count()` above the node prunes away the key columns
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(child.output)
    override protected def withNewChildInternal(c: LogicalPlan) =
      copy(child = c)
  }

  /** Planner strategy: one-to-one lowering of the marker node. */
  object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, desc, child) =>
        TopKPerKeyExec(keys, order, k, desc, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Physical operator: requires hash distribution on the keys (the
    * planner inserts the exchange), then per-partition bounded heaps. */
  case class TopKPerKeyExec(keyCols: Seq[String], orderCol: String,
      k: Int, desc: Boolean, child: SparkPlan) extends UnaryExecNode {

    override def output: Seq[Attribute] = child.output

    /** Name → attribute, FAILING on ambiguity: after e.g. a self-join
      * the child output can carry duplicate names, and silently
      * picking the first would bind the wrong column. */
    private def resolve(n: String): Int = {
      val idxs = child.output.zipWithIndex.collect {
        case (a, i) if a.name == n => i }
      idxs match {
        case Seq(i) => i
        case Seq() => throw new IllegalArgumentException(
          s"unknown column $n in ${child.output.map(_.name)}")
        case _ => throw new IllegalArgumentException(
          s"ambiguous column $n (${idxs.size} matches) — " +
            "disambiguate with aliases before topKPerKey")
      }
    }

    private def keyAttrs: Seq[Attribute] = keyCols.map(n => child.output(resolve(n)))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(keyAttrs) :: Nil

    // rows pass through unchanged, so the child's hash partitioning
    // survives — without this the default UnknownPartitioning forces
    // a REDUNDANT exchange into any same-key aggregation above
    // (observed in the q62 plan: two back-to-back hashpartitioning
    // (domain) exchanges)
    override def outputPartitioning:
        org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      child.outputPartitioning

    override protected def doExecute(): RDD[InternalRow] = {
      val out = child.output
      val keyIdx = keyCols.map(resolve)
      val keyTypes = keyIdx.map(out(_).dataType)
      val ordIdx = resolve(orderCol)
      val ordType = out(ordIdx).dataType
      val kk = k
      // typed extraction + ordering: integral columns compare as Long
      // (no double coercion — values above 2^53 stay distinct)
      val extract: InternalRow => Any = ordType match {
        case DoubleType => r => r.getDouble(ordIdx)
        case FloatType => r => r.getFloat(ordIdx).toDouble
        case LongType => r => r.getLong(ordIdx)
        case IntegerType => r => r.getInt(ordIdx).toLong
        case other => throw new IllegalArgumentException(
          s"unsupported order type $other")
      }
      val goodness: Ordering[Any] = {
        val base: Ordering[Any] = ordType match {
          case DoubleType | FloatType =>
            Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
          case _ => Ordering.Long.on[Any](_.asInstanceOf[Long])
        }
        if (desc) base else base.reverse
      }

      child.execute().mapPartitions({ iter =>
        def keyOf(row: InternalRow): Seq[Any] =
          keyIdx.zip(keyTypes).map { case (i, dt) =>
            row.get(i, dt) match {
              case s: UTF8String => s.toString // detach from row buffer
              case x => x
            }
          }
        // worst-retained-at-head heaps; ties at the boundary keep the
        // first-arrived row (documented: arrival order within equal
        // scores is partition-dependent — add a tiebreak column for
        // full determinism)
        val heapOrd = goodness.on[(Any, InternalRow)](_._1).reverse
        val heaps = mutable.HashMap
          .empty[Seq[Any], mutable.PriorityQueue[(Any, InternalRow)]]
        iter.foreach { row =>
          val s = extract(row)
          val h = heaps.getOrElseUpdate(keyOf(row),
            mutable.PriorityQueue.empty[(Any, InternalRow)](heapOrd))
          if (h.size < kk) h.enqueue((s, row.copy()))
          else if (goodness.gt(s, h.head._1)) {
            h.dequeue(); h.enqueue((s, row.copy()))
          }
        }
        heaps.valuesIterator.flatMap(_.iterator.map(_._2))
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(c: SparkPlan) =
      copy(child = c)
  }

  // -- public API -------------------------------------------------

  /** Top-k rows per key group, ordered by `orderCol`
    * (descending by default). Plans through [[TopKStrategy]], which
    * [[graft.GraftExtensions]] installs in every session
    * [[graft.GraftSession.builder]] builds. */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      k: Int, desc: Boolean = true): DataFrame =
    graft.expressions.ColumnBridge.ofRows(df.sparkSession,
      TopKPerKeyNode(keyCols, orderCol, k, desc, df.queryExecution.analyzed))
}
