package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Fused ADC (asymmetric-distance) scoring against literal trained
  * codebooks — the CellTopK treatment for the rerank/serving family's
  * per-candidate hot path (VERDICT r21 #5).
  *
  * Replaces the per-row expression stack of `adcTopKD`'s SQL form —
  * m× `slice(qe, s·subDim+1, subDim)` (an ArrayData allocation each),
  * m× `element_at(<nCodes×subDim literal>, c_s + 1)`, m× double_dot,
  * an optional query·centroid cell dot, a Divide and a Round — with
  * ONE expression node whose model (books + optional snapped
  * centroids) rides in the reference object: planning sees one node
  * instead of ~35 subtrees carrying 8 big array literals, generated
  * source is identical across trainings (janino compiles the shape
  * once), and the per-row work is a tight primitive loop with zero
  * allocation beyond one small int[m].
  *
  * Numeric parity (bit-exact vs the replaced form, spec-pinned):
  *  - each per-subspace dot accumulates `acc += qe[off+i] * w[i]` from
  *    0.0 in element order — [[DoubleVecDot]]'s fold over the slice;
  *  - terms combine left-to-right exactly as `Seq(...).reduce(_ + _)`:
  *    (cellDot) + d0 + d1 + …;
  *  - the final score is `round(sum / divisor, 6)` through
  *    [[HalfUp.round]], which returns Spark RoundBase's DoubleType
  *    result (BigDecimal HALF_UP, NaN/Inf passthrough) bit for bit
  *    without a BigDecimal per score — the same `round(x, 6)` the SQL
  *    form applied;
  *  - NULL semantics: any NULL child yields NULL — identical to the
  *    replaced chain, where slice/element_at/double_dot/+/round all
  *    propagate null.
  */
final class AdcScoreKernel(val books: Array[Array[Array[Double]]],
                           val cents: Array[Array[Double]],
                           val subDim: Int,
                           val divisor: Double) extends Serializable {
  require(books.nonEmpty && books.forall(_.forall(_.length == subDim)),
    "AdcScoreKernel: every codeword must have subDim elements")

  private val m = books.length
  // bounds guard input length (the CellTopK/SignBucketWide rule:
  // unbounded UnsafeArrayData getters must never read short vectors)
  private val minElems = math.max(m * subDim,
    if (cents == null) 0 else cents.iterator.map(_.length).max)

  /** cell is ignored when the kernel carries no centroids. */
  def score(v: ArrayData, cell: Int, codes: Array[Int]): Double = {
    require(v.numElements() >= minElems,
      s"adc_score: input vector has ${v.numElements()} elements, " +
        s"need >= $minElems")
    var acc = 0.0
    if (cents != null) {
      val c = cents(cell)
      var s = 0.0
      var i = 0
      while (i < c.length) { s += v.getDouble(i) * c(i); i += 1 }
      acc = s
    }
    var si = 0
    while (si < m) {
      val w = books(si)(codes(si))
      val off = si * subDim
      var s = 0.0
      var i = 0
      while (i < subDim) { s += v.getDouble(off + i) * w(i); i += 1 }
      acc += s
      si += 1
    }
    HalfUp.round(acc / divisor, 6)
  }
}

/** children = qe +: (cell when the kernel has centroids) +: codes. */
case class AdcScore(children: Seq[Expression], kernel: AdcScoreKernel)
    extends Expression {

  private def hasCell: Boolean = kernel.cents != null
  private def nCodeChildren: Int =
    children.length - 1 - (if (hasCell) 1 else 0)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val wantCodes = kernel.books.length
    if (nCodeChildren != wantCodes)
      return TypeCheckResult.TypeCheckFailure(
        s"adc_score expects $wantCodes code columns, got $nCodeChildren")
    val (vec, rest) = (children.head, children.tail)
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!vecOk)
      TypeCheckResult.TypeCheckFailure(
        s"adc_score expects ARRAY<DOUBLE> query vector, got " +
          vec.dataType.catalogString)
    else if (!rest.forall(_.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure(
        "adc_score expects INT cell/code columns, got (" +
          rest.map(_.dataType.catalogString).mkString(", ") + ")")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    val v = vs.head.asInstanceOf[ArrayData]
    val cell = if (hasCell) vs(1).asInstanceOf[Int] else 0
    val codeVals = vs.drop(if (hasCell) 2 else 1)
      .map(_.asInstanceOf[Int]).toArray
    kernel.score(v, cell, codeVals)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcScoreKernel", kernel,
      classOf[AdcScoreKernel].getName)
    val evals = children.map(_.genCode(ctx))
    val codes = ctx.freshName("codes")
    val codeEvals = evals.drop(if (hasCell) 2 else 1)
    val cellVal = if (hasCell) evals(1).value.code else "0"
    val anyNull = evals.map(e => e.isNull.code)
      .filterNot(_ == FalseLiteral.code).mkString(" || ")
    val nullCheck = if (anyNull.isEmpty) "false" else anyNull
    val fills = codeEvals.zipWithIndex.map { case (e, i) =>
      s"$codes[$i] = ${e.value};"
    }.mkString("\n")
    ev.copy(code = code"""
      ${evals.map(_.code).mkString("\n")}
      boolean ${ev.isNull} = $nullCheck;
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        int[] $codes = new int[${codeEvals.length}];
        $fills
        ${ev.value} = $ref.score(${evals.head.value}, $cellVal, $codes);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdcScore =
    copy(children = newChildren)
}

object AdcScore {
  /** The raw-vector trained-ADC score (sim11/12/14 family):
    * Σ_s dot(qe_s, books(s)(c_s)), rescaled+rounded to cosine units.
    */
  def score(qe: Column, codes: Seq[Column],
            books: Array[Array[(Int, Array[Double])]],
            subDim: Int, divisor: Double): Column =
    GraftSqlShim.column(AdcScore(
      (qe +: codes).map(GraftSqlShim.expression),
      new AdcScoreKernel(books.map(_.map(_._2)), null, subDim, divisor)))

  /** The residual-encoded score (sim13/15 family): the probed cell's
    * query·centroid dot (snapped centroids) leads the fold.
    */
  def scoreWithCell(qe: Column, cell: Column, codes: Seq[Column],
                    books: Array[Array[(Int, Array[Double])]],
                    centsQ: Array[(Int, Array[Double])],
                    subDim: Int, divisor: Double): Column =
    GraftSqlShim.column(AdcScore(
      (qe +: cell +: codes).map(GraftSqlShim.expression),
      new AdcScoreKernel(books.map(_.map(_._2)), centsQ.map(_._2),
        subDim, divisor)))
}
