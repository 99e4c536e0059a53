package graft

import graft.functions.{HalfUp, MicroQuant}
import graft.llm.Clustering
import graft.llm.TextExprs.SparkD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[HalfUp.round]] against the BigDecimal chain it replaces, and
  * [[MicroQuant]] against the `quantSql` text it replaces, compared by
  * raw IEEE bits: any difference would move a k-means cell, an IVF
  * probe or an ADC score and so a gate hash.
  */
class RoundingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Scales = Seq(0, 4, 6)

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  /** Spark RoundBase's DoubleType branch, as its generated code spells
    * it: the result [[HalfUp.round]] must reproduce.
    */
  private def bigDecimalRound(x: Double, s: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Inputs on which the kernel and the BigDecimal chain differ. */
  private def mismatches(xs: Iterator[Double]): Seq[(Double, Int)] = {
    val bad = Seq.newBuilder[(Double, Int)]
    xs.foreach { x =>
      Scales.foreach { s =>
        if (bits(HalfUp.round(x, s)) != bits(bigDecimalRound(x, s)))
          bad += x -> s
      }
    }
    bad.result()
  }

  private def assertNone(what: String, xs: Iterator[Double]): Unit = {
    val bad = mismatches(xs)
    assert(bad.isEmpty, s"$what: ${bad.size} mismatches, first " +
      bad.take(5).map { case (x, s) =>
        s"round($x, $s) = ${HalfUp.round(x, s)} vs " +
          bigDecimalRound(x, s)
      }.mkString("; "))
  }

  test("random doubles with decimal exponents -25 to +15 round " +
    "bit-identically to the BigDecimal chain at scales 0, 4 and 6") {
    val rnd = new scala.util.Random(20261019L)
    val n = 10000000
    assertNone(s"$n random doubles", Iterator.fill(n) {
      val m = 1.0 + 9.0 * rnd.nextDouble()
      val e = rnd.nextInt(41) - 25
      val x = m * math.pow(10.0, e)
      if (rnd.nextBoolean()) -x else x
    })
  }

  test("constructed ties (k + 0.5) / 10^s and 1-2 ulps either side " +
    "round bit-identically to the BigDecimal chain") {
    val rnd = new scala.util.Random(7L)
    // every small k, then k spread up to the 1e15 fast-path bound
    val ks = (-100000L to 100000L).iterator ++
      Iterator.fill(200000)((rnd.nextDouble() * 2e14).toLong - 100000000000000L)
    val xs = ks.flatMap { k =>
      Scales.iterator.flatMap { s =>
        val t = (k + 0.5) / math.pow(10.0, s)
        val up1 = Math.nextUp(t); val dn1 = Math.nextDown(t)
        Iterator(t, up1, Math.nextUp(up1), dn1, Math.nextDown(dn1))
      }
    }
    assertNone("ties", xs)
  }

  test("signed zeros, NaN, infinities and |x * 10^s| >= 1e15 take " +
    "the BigDecimal chain's result") {
    val big = Scales.flatMap { s =>
      val edge = 1e15 / math.pow(10.0, s)
      Seq(edge, Math.nextDown(edge), Math.nextUp(edge), 2.5 * edge,
        -edge, -Math.nextDown(edge), 123456789.123456789 * edge)
    }
    val special = Seq(0.0, -0.0, Double.NaN, -Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue,
      -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 1e300,
      -1e-300, 4.5e15, -9.007199254740993e15)
    assertNone("specials", (big ++ special).iterator)
    // and the zero the chain returns is +0.0 whatever the sign in
    Seq(-0.0, -1e-9, -4e-7).foreach { x =>
      Scales.foreach(s => assert(bits(HalfUp.round(x, s)) == 0L))
    }
  }

  /** Float micro-unit edge cases: m/128 for odd m is an exact
    * half-micro-unit tie (x * 1e6 = m * 7812.5), the float nearest
    * each .5e-6 a near-tie, and tiny negatives round to +0.0.
    */
  private val edgeF: Seq[Float] = Seq(1f / 128, 3f / 128, -5f / 128,
    -1f / 128, 0.5e-6f, 1.5e-6f, -2.5e-6f, -0.5e-6f, -1e-7f, -4.9e-7f,
    -0.0f, 0.0f, 1.0f, -1.0f, 0.123456789f)

  private def frame(rows: Seq[Row], elem: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(elem, containsNull = true),
          nullable = true))))

  private def assertSameQv(df: DataFrame): Unit = {
    val fused = df.select(col("vec_id"),
      MicroQuant(col("embedding")).as("qv"))
    val sql = df.select(col("vec_id"),
      expr(Clustering.quantSql("embedding")(SparkD)).as("qv"))
    assert(fused.schema == sql.schema)
    def rows(f: DataFrame) = f.collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null
      else r.getSeq[Any](1).map {
        case null => null
        case d: Double => java.lang.Long.valueOf(bits(d))
      })
    }.sortBy(_._1).toSeq
    val (a, b) = (rows(fused), rows(sql))
    assert(a.length == df.count())
    assert(a == b)
  }

  test("MicroQuant(embedding) equals the quantSql expression bit for " +
    "bit with an equal schema: null vector, null element, negatives " +
    "rounding to zero, exact half-micro-unit ties") {
    val f = frame(Seq(
      Row(0L, null),
      Row(1L, Seq[Any](1.0f, null, -1e-7f)),
      Row(2L, edgeF),
      Row(3L, Seq.empty[Float])), FloatType)
    assertSameQv(f)
    val d = frame(Seq(
      Row(0L, null),
      Row(1L, Seq[Any](null, -0.0)),
      Row(2L, edgeF.map(_.toDouble) ++ Seq(0.5e-6, 1.5e-6, -2.5e-6,
        -1e-7, 7.8125e-3, 1e12, Double.NaN, Double.NegativeInfinity))),
      DoubleType)
    assertSameQv(d)
    // the generated code compiles and agrees with interpreted eval
    val e = MicroQuant(BoundReference(0, ArrayType(FloatType, true), true))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val in = ArrayData.toArrayData(edgeF.toArray)
    val out = proj(InternalRow(in)).getArray(0)
    val ref = e.eval(InternalRow(in)).asInstanceOf[ArrayData]
    assert(out.toDoubleArray().map(bits).toSeq ==
      ref.toDoubleArray().map(bits).toSeq)
  }

  test("MicroQuant equals quantSql on 2,000 seeded 64-dim float " +
    "vectors") {
    val rnd = new scala.util.Random(64L)
    assertSameQv(frame(Seq.tabulate(2000)(i =>
      Row(i.toLong, Seq.fill(64)(rnd.nextFloat() * 2f - 1f))), FloatType))
  }
}
