package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._

/** Micro-unit quantisation of a float or double vector column as one
  * codegen'd node: the value of
  * `transform(v, x -> round(CAST(x AS DOUBLE) * 1000000.0))`
  * ([[graft.llm.Clustering.quantSql]], kept as text for the DuckDB
  * twins), bit for bit, with the same type and nulls.
  *
  * The SQL form runs the interpreted higher-order `transform` and a
  * BigDecimal `round` per element; here one compiled call walks the
  * array and rounds through [[HalfUp.round]]. Element arithmetic is
  * the SQL form's: the float widens exactly, the decimal literal
  * 1000000.0 meets a double as the double 1e6, and the product rounds
  * half-up to scale 0. A NULL vector gives NULL, a NULL element a NULL
  * element.
  */
case class MicroQuant(child: Expression) extends UnaryExpression {

  private def floatInput: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "micro_quant expects ARRAY<FLOAT> or ARRAY<DOUBLE>, got " +
          other.catalogString)
    }

  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(DoubleType, containsNull)
    case _ => ArrayType(DoubleType)
  }

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any =
    MicroQuant.quantise(a.asInstanceOf[ArrayData], floatInput)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = ${classOf[MicroQuant.type].getName}.MODULE$$" +
        s".quantise($v, $floatInput);")

  override protected def withNewChildInternal(
      newChild: Expression): MicroQuant = copy(child = newChild)
}

object MicroQuant {
  /** `MicroQuant(col("embedding"))`: the quantised column. */
  def apply(v: Column): Column =
    GraftSqlShim.column(MicroQuant(GraftSqlShim.expression(v)))

  /** The per-row loop the generated code calls. */
  def quantise(a: ArrayData, floatInput: Boolean): ArrayData = {
    val n = a.numElements()
    val out = ArrayData.allocateArrayData(8, n, " (micro_quant)")
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out.setNullAt(i)
      else {
        val x = if (floatInput) a.getFloat(i).toDouble else a.getDouble(i)
        out.setDouble(i, HalfUp.round(x * 1e6, 0))
      }
      i += 1
    }
    out
  }
}
