package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dot product of two ARRAY<DOUBLE> columns, accumulating in
  * double, sequential element order — the array<double> sibling of
  * [[FloatVecDot]] (same rationale: higher-order-function lambdas are
  * interpreted per element; this compiles to a tight loop inside
  * whole-stage codegen).
  *
  * Numeric parity: `acc += a[i] * b[i]` from acc=0.0 in index order —
  * bit-identical to the sequential left fold the DuckDB oracle evaluates
  * (graft.llm.TextExprs.listFoldSumDouble), and to a Scala while-loop
  * over driver-held centroid arrays, which is what lets the k-means
  * assignment stage swap between literal-centroid and joined-centroid
  * forms without moving any oracle-checked output.
  */
case class DoubleVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVecDot =
    copy(left = newLeft, right = newRight)
}

object DoubleVecDot {
  /** Register `double_dot` in the session's function registry so it is
    * usable from `expr(...)` strings alongside the shared SQL fragments.
    * A session that already has it keeps its builder.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("double_dot")))
      registry.createOrReplaceTempFunction(
        "double_dot", exprs => DoubleVecDot(exprs(0), exprs(1)), "built-in")
  }
}
