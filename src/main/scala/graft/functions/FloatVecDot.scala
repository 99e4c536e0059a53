package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dot product of two ARRAY<FLOAT> columns, accumulating in
  * double, sequential element order.
  *
  * Why a custom Expression: Spark's higher-order functions (`transform`
  * + `aggregate`) evaluate their lambdas INTERPRETED — per element, per
  * row. For 64-dim embeddings in a pair join that's the entire runtime.
  * This expression compiles to a tight Java loop inside whole-stage
  * codegen (SURVEY §2 preference order: native Expression with doGenCode
  * over UDF).
  *
  * Numeric parity: the loop is `acc += (double)a[i] * (double)b[i]` from
  * acc=0.0 in index order — bit-identical to the sequential left fold the
  * DuckDB oracle evaluates (graft.llm.TextExprs.listFoldSumDouble), so
  * swapping it into cosine paths changes no oracle-checked output.
  */
case class FloatVecDot(left: Expression, right: Expression)
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
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
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
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  /** Register `float_dot` in the session's function registry so it is
    * usable from `expr(...)` strings alongside the shared SQL fragments.
    * A session that already has it keeps its builder.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("float_dot")))
      registry.createOrReplaceTempFunction(
        "float_dot", exprs => FloatVecDot(exprs(0), exprs(1)), "built-in")
  }
}
