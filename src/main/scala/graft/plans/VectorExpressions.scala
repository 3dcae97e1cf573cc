package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The composed `zip_with`/`aggregate` form in
  * [[graft.functions.VectorFunctions]] is correct but its lambda functions are
  * interpreted per element — at millions of (pair x dim) evaluations (the
  * KNN scan, the near-dup self-join) that interpretation dominates. These
  * expressions keep the identical double-accumulation math (same element
  * order, so results are bit-identical to the composed form and to the
  * DuckDB oracle) but run as one fused whole-stage-codegen'd loop.
  *
  * Inputs may be `array<float>` (the index storage dtype, reference
  * `modules/utilities.py:274`) or `array<double>` (SQL array literals).
  *
  * This is the engine's one justified custom expression family (SURVEY.md
  * §7.4): the capability it accelerates is the reference's HNSW/COSINE
  * distance metric (reference `modules/utilities.py:273-276`).
  */
abstract class FloatVectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected (array<float|double>, array<float|double>), got (${left.dataType}, ${right.dataType})")

  protected def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected def elem(a: ArrayData, i: Int, float: Boolean): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java source for element i of array variable `v`, as double. */
  protected def elemJava(v: String, i: String, float: Boolean): String =
    if (float) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

/** cosine_sim(a, b): dot(a,b) / (|a| * |b|), 0.0 when either norm is 0. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends FloatVectorBinaryExpression {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (fa, fb) = (isFloat(left), isFloat(right))
    val n = math.min(a.numElements(), b.numElements())
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, fa)
      val y = elem(b, i, fb)
      dp += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dp / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dp = ctx.freshName("dp"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dp = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${elemJava(a, i, isFloat(left))};
         |  double $y = ${elemJava(b, i, isFloat(right))};
         |  $dp += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dp / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) in double. */
case class DotProductExpr(left: Expression, right: Expression)
    extends FloatVectorBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (fa, fb) = (isFloat(left), isFloat(right))
    val n = math.min(a.numElements(), b.numElements())
    var dp = 0.0
    var i = 0
    while (i < n) { dp += elem(a, i, fa) * elem(b, i, fb); i += 1 }
    dp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dp = ctx.freshName("dp")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dp = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dp += ${elemJava(a, i, isFloat(left))} * ${elemJava(b, i, isFloat(right))};
         |}
         |${ev.value} = $dp;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** squared L2 distance in double (IVF assignment hot path). */
case class SquaredL2Expr(left: Expression, right: Expression)
    extends FloatVectorBinaryExpression {

  override def prettyName: String = "squared_l2"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (fa, fb) = (isFloat(left), isFloat(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = elem(a, i, fa) - elem(b, i, fb)
      s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${elemJava(a, i, isFloat(left))} - ${elemJava(b, i, isFloat(right))};
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  private def e(c: Column): Expression =
    ColumnBridge.expression(c.cast("array<float>"))

  /** [[CosineSimilarityExpr]] over JVM float arrays: the same double
    * accumulation in index order over the shorter length, so results are
    * bit-identical to the expression's. The driver-side and RDD kernels
    * (the serving top-k, MMR) call this one loop. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dp += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dp / denom
  }

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarityExpr(e(a), e(b)))

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(e(a), e(b)))

  def squaredL2(a: Column, b: Column): Column =
    ColumnBridge.column(SquaredL2Expr(e(a), e(b)))
}
