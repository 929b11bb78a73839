package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Sequential-fold dot product of two double arrays as ONE native
  * codegen expression.
  *
  * The cosine family (Ann.cosine, Dedup.embeddingCosinePairs) was built
  * on `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — semantically exactly
  * this fold, but Spark's higher-order functions are CodegenFallback:
  * every pair paid three interpreted folds (dot + both norms) with a
  * zip_with array allocation each, and the pair side of a block
  * self-join evaluates them O(pairs) times. This expression is the
  * identical IEEE-754 arithmetic — acc = acc + a(i)*b(i), left to
  * right — in one allocation-free loop, so every similarity value is
  * bit-for-bit unchanged (the DuckDB oracles stay hash-exact) while the
  * per-pair cost drops to a 64-iteration primitive loop inside
  * whole-stage codegen.
  *
  * Norms reuse it as sqrt(dot(a, a)) — again the same fold the HOF
  * version computed (acc + v*v per step).
  *
  * Arrays of different lengths have no dot product: the expression is
  * NULL for them (on the interpreted and the codegen path alike) rather
  * than folding a silently truncated prefix. Elements must be non-null
  * (embeddings are fixed-dim, dense by construction).
  */
object DotFold {

  /** Static entry point for generated code; callers check that the
    * lengths are equal.
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dot(a: Column, b: Column): Column =
    ColumnBridge.toColumn(DotFoldExpr(
      ColumnBridge.toExpression(a), ColumnBridge.toExpression(b)))
}

case class DotFoldExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null else DotFold.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.DotFold.compute($a, $b);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_fold"
}
