package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._

/** Fused nearest-cell ranking against a LITERAL centroid/codeword set —
  * the codegen'd replacement for the
  * `array_sort(array(struct(-round(dot - ‖c‖²/2, 6), cid), ...))`
  * pattern that is the per-row hot path of every k-means assignment,
  * IVF cell ranking and PQ code projection (graft.llm.Clustering /
  * graft.llm.Similarity).
  *
  * Why a custom Expression (the SignBucketWide rationale, SURVEY §2
  * preference order): the SQL form materialises k struct columns, k
  * separate dot folds and a generic array sort per row, and — worse
  * for the bench — inlines the k half-norm DOUBLE LITERALS into the
  * generated source, so every training iteration (new centroids ⇒ new
  * constants) is a fresh janino compilation that can never amortise.
  * Here the whole model lives in ONE reference object: the generated
  * source is identical across iterations/gates (compile once per plan
  * SHAPE), planning sees a single expression node instead of ~16
  * struct subtrees, and the per-row work is one tight compiled loop.
  *
  * Numeric parity (oracle-gated end to end, spec-pinned per row):
  *  - the dot accumulates `acc += v[off+i] * c[i]` from 0.0 in element
  *    order — bit-identical to [[DoubleVecDot]] / [[FloatVecDot]]
  *    (floats widen exactly, so pre-widened double codewords give
  *    identical products);
  *  - the score is `round((acc − halfNorm) / divisor, 6)` through
  *    [[HalfUp.round]], which returns Spark RoundBase's DoubleType
  *    result (BigDecimal HALF_UP, NaN/Inf passthrough) bit for bit
  *    without a BigDecimal per score; divisor 1.0 reproduces the
  *    undivided float-family form (x/1.0 == x bitwise);
  *  - output is the ascending (ns = −score, cid) prefix of length
  *    `nTop` — exactly `slice(array_sort(...), 1, nTop)`: scores are
  *    never −0.0 (Spark's rounding normalises a zero to +0.0), so
  *    negation cannot split a tie and plain double comparison
  *    matches the struct sort.
  *
  * Documented parity GAPS vs the replaced SQL form (ADVICE r21) —
  * both unreachable on the gated corpora (non-null, finite, dim-64
  * micro-unit vectors), recorded so nobody extends the expression to a
  * nullable/NaN domain expecting bit parity:
  *  - a NULL input vector yields a NULL ranking array (nullIntolerant),
  *    where `array_sort(array(struct(...)))` returned a non-null array
  *    whose winner was the smallest cid with null ns;
  *  - a NaN dot/score compares false against every bound in the
  *    insertion below, so a NaN can occupy an early slot while the
  *    buffer is still filling, where Spark's struct sort orders NaN
  *    greatest (last among ascending ns).
  */
final class CellTopKKernel(val cids: Array[Int],
                           val mat: Array[Array[Double]],
                           val halfNorms: Array[Double],
                           val divisor: Double,
                           val floatInput: Boolean,
                           val nTop: Int,
                           val offset: Int) extends Serializable {
  require(mat.length == cids.length && halfNorms.length == cids.length,
    "CellTopKKernel: cids/mat/halfNorms must align")
  require(nTop >= 1 && nTop <= cids.length,
    s"CellTopKKernel: nTop must be in [1, ${cids.length}], got $nTop")
  // processing order = cid order makes "first wins" = "smaller cid
  // wins" on score ties, matching the struct sort's cid tie-break
  require(cids.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "CellTopKKernel: cids must be strictly increasing")

  private val k = mat.length
  // elements the input vector must carry for the dot loops below —
  // UnsafeArrayData's getFloat/getDouble are unbounded, so a
  // shorter-than-expected vector would silently read adjacent memory
  // (the SignBucketWide.requireDim failure mode); checked LOUDLY per
  // row in topK (ADVICE r21)
  private val minElems = offset + mat.iterator.map(_.length).max

  def topK(v: ArrayData): ArrayData = {
    require(v.numElements() >= minElems,
      s"cell_topk: input vector has ${v.numElements()} elements, " +
        s"need >= $minElems (offset $offset + codeword dim) — a " +
        "short vector would silently misread adjacent memory")
    val topNs = new Array[Double](nTop)
    val topCid = new Array[Int](nTop)
    var filled = 0
    var c = 0
    while (c < k) {
      val row = mat(c)
      val n = row.length
      var s = 0.0
      var i = 0
      if (floatInput)
        while (i < n) {
          s += v.getFloat(offset + i).toDouble * row(i); i += 1
        }
      else
        while (i < n) { s += v.getDouble(offset + i) * row(i); i += 1 }
      val ns = -HalfUp.round((s - halfNorms(c)) / divisor, 6)
      // bounded ascending insertion; strict < keeps the earlier
      // (smaller) cid ahead on equal ns
      if (filled < nTop || ns < topNs(filled - 1)) {
        var p = if (filled < nTop) filled else nTop - 1
        while (p > 0 && ns < topNs(p - 1)) {
          topNs(p) = topNs(p - 1); topCid(p) = topCid(p - 1); p -= 1
        }
        topNs(p) = ns
        topCid(p) = cids(c)
        if (filled < nTop) filled += 1
      }
      c += 1
    }
    val rows = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      rows(r) = InternalRow(topNs(r), topCid(r)); r += 1
    }
    new GenericArrayData(rows)
  }
}

case class CellTopK(child: Expression, kernel: CellTopKKernel)
    extends UnaryExpression {

  /** Wrong-typed input must fail ANALYSIS, not silently misread
    * bytes through getFloat/getDouble (AbstractDataType is
    * private[sql], so this is the checkInputDataTypes spelling of
    * ExpectsInputTypes).
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    val want: DataType = if (kernel.floatInput) FloatType else DoubleType
    child.dataType match {
      case ArrayType(`want`, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cell_topk expects ARRAY<${want.catalogString}>, got " +
          other.catalogString)
    }
  }

  override def dataType: DataType = CellTopK.outType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any =
    kernel.topK(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // the model rides in the references array — generated source is
    // identical for every centroid set, so janino compiles the plan
    // SHAPE once instead of once per training iteration
    val ref = ctx.addReferenceObj("cellTopKKernel", kernel,
      classOf[CellTopKKernel].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.topK($v);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CellTopK = copy(child = newChild)
}

object CellTopK {
  /** Matches the struct the array_sort form produced: ns the negated
    * rounded score (nullable like any arithmetic over a nullable
    * column), cid the literal-backed centroid id (never null).
    */
  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("ns", DoubleType, nullable = true),
    StructField("cid", IntegerType, nullable = false))),
    containsNull = false)

  /** Sequential half squared norm — the same element-order fold as
    * `double_dot(c, c) / 2` and the SQL forms' inline literals.
    */
  private def halfNorm2(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s / 2.0
  }

  /** Ranked top-`nTop` cells of a vector column against literal
    * centroids held as doubles: `floatInput` reads an `array<float>`
    * column (float codewords widen exactly, so a widened float model
    * ranks bit-identically to the float form), `divisor` rescales the
    * score before rounding (1.0 is bitwise identity). `offset`
    * selects a subvector starting at that 0-based element (the PQ
    * subspace slice, without materialising the slice).
    */
  def rank(vec: Column, cents: Array[(Int, Array[Double])],
           divisor: Double, floatInput: Boolean, nTop: Int,
           offset: Int = 0): Column =
    GraftSqlShim.column(CellTopK(GraftSqlShim.expression(vec),
      new CellTopKKernel(cents.map(_._1), cents.map(_._2),
        cents.map(c => halfNorm2(c._2)), divisor, floatInput, nTop,
        offset)))

  /** Micro-unit DOUBLE vectors ([[graft.llm.Clustering]] `cellSort`,
    * the trained IVF-PQ grid): score divided by `divisor`.
    */
  def rankD(vec: Column, cents: Array[(Int, Array[Double])],
            divisor: Double, nTop: Int, offset: Int = 0): Column =
    rank(vec, cents, divisor, floatInput = false, nTop, offset)

  /** Float-vector sibling ([[graft.llm.Similarity]] IVF cell ranking):
    * codewords widen float→double exactly, scores are
    * `round(dot − ‖c‖²/2, 6)` undivided. Half-norms fold in double over
    * the widened values — the same order as `float_dot(c, c)`'s
    * accumulation.
    */
  def rankF(vec: Column, cents: Array[(Int, Array[Float])],
            nTop: Int, offset: Int = 0): Column =
    rank(vec, cents.map(c => (c._1, c._2.map(_.toDouble))), 1.0,
      floatInput = true, nTop, offset)
}
