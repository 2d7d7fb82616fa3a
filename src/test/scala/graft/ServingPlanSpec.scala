package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.expressions.{FtsMatch, HashFeaturize, HashQueryDot}
import graft.ops.Search
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArraysOverlap, Expression, StringSplit}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The serving path's fixed Spark work. Building a response DataFrame
  * launches no job once its tables' schemas are known ([[Tables]]),
  * the KNN answers (semantic, RAG, q57) run as one job that scores each
  * row's text with one fused kernel, builds no vector column and joins
  * nothing against the query vector, snippet search stays one job, and
  * the full-text predicates of listing and snippet search scan each
  * text once without building a token array. */
class ServingPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val builds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dashboard" -> Search.dashboard,
    "listingPage" -> ((s, d) => Search.listingPage(s, d, "widget")),
    "semanticSearch" -> Search.semanticSearch,
    "ragContext" -> Search.ragContext,
    "snippetSearch" -> Search.snippetSearch,
    "knn1024" -> Search.knn1024)

  private val oneJob = Set("semanticSearch", "ragContext", "snippetSearch",
    "knn1024")
  private val knn = Set("semanticSearch", "ragContext", "knn1024")

  /** `body`'s result and the number of jobs it launched from this
    * thread, counted once the listener bus has drained. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"serving-plan-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  for ((name, build) <- builds) {
    test(s"$name: a second build launches no job") {
      build(spark, sfDir)
      val (_, jobs) = jobsOf(build(spark, sfDir))
      assert(jobs == 0, s"building $name launched $jobs job(s)")
    }
  }

  for ((name, build) <- builds if oneJob(name)) {
    test(s"$name: collect runs exactly one job") {
      val df = build(spark, sfDir)
      val (rows, jobs) = jobsOf(df.collect())
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(jobs == 1, s"collecting $name ran $jobs jobs")
    }
  }

  private val fts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "listingPage" -> ((s, d) => Search.listingPage(s, d, "widget")),
    "listingStemmed" -> Search.listingStemmed,
    "snippetSearch" -> Search.snippetSearch)

  for ((name, build) <- fts) {
    test(s"$name: the FTS predicate is one fused scan, no token array") {
      // and snippetSearch finds its hit with no lambda fold
      val df = build(spark, sfDir)
      assert(df.collect().nonEmpty, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan
      val exprs = flatMap(plan)(_.expressions.flatMap(_.collect {
        case e => e
      }))
      assert(exprs.exists(_.isInstanceOf[FtsMatch]), s"$name has no FtsMatch:\n$plan")
      val hofs = exprs.filter(e => e.isInstanceOf[ArrayFilter] ||
        e.isInstanceOf[StringSplit] || e.isInstanceOf[ArraysOverlap] ||
        e.isInstanceOf[ArrayAggregate])
      assert(hofs.isEmpty,
        s"$name still tokenizes into arrays or folds (${hofs.map(_.prettyName).distinct}):\n$plan")
    }
  }

  for ((name, build) <- builds if knn(name)) {
    test(s"$name: one featurize per row, no join against the query") {
      val df = build(spark, sfDir)
      df.collect()
      // the final adaptive plan, query stages included
      val plan = df.queryExecution.executedPlan
      def holding[T](pick: PartialFunction[Expression, T]) =
        flatMap(plan)(_.expressions.flatMap(_.collect(pick)))
      val scorers = holding { case d: HashQueryDot => d }
      assert(scorers.size == 1,
        s"$name scores ${scorers.size} times:\n$plan")
      assert(holding { case h: HashFeaturize => h }.isEmpty,
        s"$name still builds a featurized vector:\n$plan")
      val topK = collect(plan) { case t: TakeOrderedAndProjectExec => t }
      assert(topK.size == 1, s"$name has no single top-k:\n$plan")
      val vectors = collect(topK.head.child) {
        case p if p.output.exists(_.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) => p
      }
      assert(vectors.isEmpty,
        s"$name carries a vector column below the top-k:\n$plan")
      assert(collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name still joins against a broadcast relation:\n$plan")
    }
  }
}
