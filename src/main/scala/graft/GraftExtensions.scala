package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryMinus}
import graft.expressions.{DotProduct, FtsMatch, HashFeaturize, HashQueryDot, NfcNormalize, SignPack, Tokens}

/** The engine's one session extension point: registers its native
  * SQL functions, so `spark.sql("SELECT vec_dot(a, b) ...")` works,
  * and the planner strategy that lowers [[graft.plans.TopKPerKey]]'s
  * marker node. [[GraftSession.builder]] installs it, so every session
  * the engine builds, and every `newSession()` of one, carries both;
  * nothing is registered at call time. Outside the engine's builder:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKey.TopKStrategy)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_negdot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_negdot"),
      (args: Seq[Expression]) => UnaryMinus(DotProduct(args(0), args(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_signpack"),
      new ExpressionInfo(classOf[SignPack].getName, "vec_signpack"),
      (args: Seq[Expression]) => SignPack(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NfcNormalize(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("vec_featurize"),
      new ExpressionInfo(classOf[HashFeaturize].getName, "vec_featurize"),
      (args: Seq[Expression]) => {
        arity("vec_featurize", "(text[, dims])", args, 1, 2)
        HashFeaturize(args.head, dims("vec_featurize", args.lift(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_query_dot"),
      new ExpressionInfo(classOf[HashQueryDot].getName, "vec_query_dot"),
      (args: Seq[Expression]) => {
        arity("vec_query_dot", "(text, query[, dims])", args, 2, 3)
        HashQueryDot(args(0), args(1), dims("vec_query_dot", args.lift(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("text_tokens"),
      new ExpressionInfo(classOf[Tokens].getName, "text_tokens"),
      (args: Seq[Expression]) => {
        arity("text_tokens", "(text)", args, 1, 1)
        Tokens(args.head)
      }))
    for ((name, stemmed) <- Seq("fts_match" -> false, "fts_match_stemmed" -> true))
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[FtsMatch].getName, name),
        (args: Seq[Expression]) => {
          arity(name, "(text, query)", args, 2, 2)
          FtsMatch(args(0), args(1), stemmed)
        }))
  }

  private def arity(fn: String, shape: String, args: Seq[Expression],
      min: Int, max: Int): Unit =
    if (args.size < min || args.size > max)
      throw new IllegalArgumentException(
        s"$fn expects $shape, got ${args.size} arguments")

  /** An optional featurizer width argument: an integer literal, by
    * default [[graft.functions.Embeddings.Dims]]. */
  private def dims(fn: String, arg: Option[Expression]): Int = arg match {
    case None => graft.functions.Embeddings.Dims
    case Some(Literal(v: Int, _)) => v
    case Some(other) => throw new IllegalArgumentException(
      s"$fn dims must be an integer literal, got $other")
  }
}
