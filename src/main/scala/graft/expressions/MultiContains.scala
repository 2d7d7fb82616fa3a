package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho-Corasick multi-pattern matcher (Aho & Corasick 1975) — the
  * classic automaton behind every serious blocklist/policy filter:
  * ONE pass over the text finds all K patterns simultaneously,
  * instead of K independent `contains`/`replace` scans (the naive
  * shape the DuckDB oracle uses — at K patterns the naive cost is
  * K·|text|, the automaton's |text|).
  *
  * Match counting is per-pattern leftmost non-overlapping (greedy) —
  * exactly `replace(text, p, '')` counting, which is what makes the
  * result cross-engine checkable.
  */
object AhoCorasick {

  /** Standard goto/fail/output automaton over char-keyed maps. Built
    * once per pattern set per JVM (see [[automaton]]). */
  final class Automaton(val patterns: Array[String]) {
    private val next = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map[Char, Int]())
    private val fail = scala.collection.mutable.ArrayBuffer(0)
    // pattern ids whose match ENDS at this node (via output links)
    private val out = scala.collection.mutable.ArrayBuffer(
      List.empty[Int])

    patterns.zipWithIndex.foreach { case (p, id) =>
      var s = 0
      p.foreach { c =>
        s = next(s).getOrElseUpdate(c, {
          next += scala.collection.mutable.Map[Char, Int]()
          fail += 0
          out += Nil
          next.size - 1
        })
      }
      out(s) = id :: out(s)
    }
    // BFS failure links; merge output lists through the fail chain
    locally {
      val queue = scala.collection.mutable.Queue[Int]()
      next(0).values.foreach { s => fail(s) = 0; queue += s }
      while (queue.nonEmpty) {
        val r = queue.dequeue()
        next(r).foreach { case (c, s) =>
          queue += s
          var f = fail(r)
          while (f != 0 && !next(f).contains(c)) f = fail(f)
          fail(s) = next(f).getOrElse(c, 0)
          if (fail(s) == s) fail(s) = 0
          out(s) = out(s) ::: out(fail(s))
        }
      }
    }

    /** Per-pattern leftmost non-overlapping occurrence counts. */
    def count(text: String): Array[Long] = {
      val counts = new Array[Long](patterns.length)
      val lastEnd = new Array[Int](patterns.length) // exclusive ends
      var s = 0
      var i = 0
      val n = text.length
      while (i < n) {
        val c = text.charAt(i)
        while (s != 0 && !next(s).contains(c)) s = fail(s)
        s = next(s).getOrElse(c, 0)
        var os = out(s)
        while (os.nonEmpty) {
          val id = os.head
          val start = i + 1 - patterns(id).length
          if (start >= lastEnd(id)) {
            counts(id) += 1
            lastEnd(id) = i + 1
          }
          os = os.tail
        }
        i += 1
      }
      counts
    }
  }

  // keyed by the plan-broadcast pattern array REFERENCE — one array
  // object per plan (ctx.addReferenceObj), so identity is the right
  // key and the automaton builds once per executor JVM per plan
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Array[String], Automaton]()

  def automaton(patterns: Array[String]): Automaton =
    cache.computeIfAbsent(patterns, ps => new Automaton(ps))

  /** Entry point for both interpreted eval and generated code. */
  def countHits(text: String, patterns: Array[String]): Array[Long] =
    automaton(patterns).count(text)
}

/** `multi_contains(text, patterns)`: array of per-pattern leftmost
  * non-overlapping occurrence counts, via a shared Aho-Corasick
  * automaton — K patterns in one codegen'd text pass. */
case class MultiContains(child: Expression, patterns: Seq[String])
    extends UnaryExpression {

  private val patternArr: Array[String] = patterns.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if patterns.nonEmpty && patterns.forall(_.nonEmpty) =>
      TypeCheckResult.TypeCheckSuccess
    case _: StringType => TypeCheckResult.TypeCheckFailure(
      "multi_contains requires a non-empty list of non-empty patterns")
    case other => TypeCheckResult.TypeCheckFailure(
      s"multi_contains requires a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      AhoCorasick.countHits(input.asInstanceOf[UTF8String].toString,
        patternArr))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val pats = ctx.addReferenceObj("patterns", patternArr,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, in => s"""
      |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      |  .fromPrimitiveArray(
      |    graft.expressions.AhoCorasick.countHits($in.toString(), $pats));
      |""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MultiContains = copy(child = newChild)

  override def prettyName: String = "multi_contains"
}

object MultiContains {
  def hits(c: Column, patterns: Seq[String]): Column =
    ColumnBridge.column(MultiContains(ColumnBridge.expression(c), patterns))
}
