package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{CosineSimilarityExpr, DotProductExpr, EmbedTextExpr, SquaredL2Expr}

/** SQL surface for the engine's custom expressions: `cosine_sim`,
  * `dot_product`, `squared_l2` become callable from `spark.sql(...)`.
  *
  * Two registration paths:
  *  - `spark.sql.extensions=graft.GraftExtensions` (cluster-wide, the
  *    idiomatic `SparkSessionExtensions` injection), or
  *  - `GraftExtensions.register(spark)` on a live session (used by tests
  *    and by Verify/Bench, whose sessions exist before this library loads).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarityExpr(args(0), args(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (args: Seq[Expression]) => DotProductExpr(args(0), args(1))),
    (FunctionIdentifier("squared_l2"),
      new ExpressionInfo(classOf[SquaredL2Expr].getName, "squared_l2"),
      (args: Seq[Expression]) => SquaredL2Expr(args(0), args(1))),
    (FunctionIdentifier("embed_text"),
      new ExpressionInfo(classOf[EmbedTextExpr].getName, "embed_text"),
      (args: Seq[Expression]) => {
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            s"embed_text: $what must be an integer literal")
        }
        EmbedTextExpr(args(0), intLit(args(1), "dim"),
          if (args.length > 2) intLit(args(2), "seed")
          else graft.functions.Embedder.DefaultSeed)
      }))

  /** Register on an already-built session (functions into the registry). */
  def register(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registry = classic.sessionState.functionRegistry
    functions.foreach { case (ident, inf, builder) =>
      registry.registerFunction(ident, inf, builder)
    }
  }
}
