package perfbench

import java.nio.file.Path

import graft.llm.{Clustering, Similarity}
import graft.llm.TextExprs.SparkD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class CorpusIn(path: String, bytes: Long, n: Int,
                          exact: Map[Long, Set[Long]])

/** Seeded clustered embeddings served by the three IVF-PQ top-k paths
  * at production cell counts (nCentroids >= 64, the floor below which
  * the API demands `fixtureScale`).
  */
final case class Corpus(name: String, n: Int, dim: Int, nClusters: Int,
                        nQueries: Int, k: Int, nCentroids: Int,
                        recallFloor: Double) extends Workload {

  type In = CorpusIn

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def gen(spark: SparkSession, dir: Path, seed: Long): CorpusIn = {
    val vecs = Gen.corpus(n, dim, nClusters, seed)
    val path = dir.resolve("corpus.parquet").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), 4),
      schema).write.mode("overwrite").parquet(path)
    val bytes = java.nio.file.Files.walk(dir.resolve("corpus.parquet"))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    CorpusIn(path, bytes, n, exactTopK(vecs))
  }

  /** Exact top-k by cosine for queries vec_id < nQueries, self
    * excluded, ranked as the program ranks: round(cos, 6) desc, then
    * vec_id asc.
    */
  private def exactTopK(v: Array[Array[Float]]): Map[Long, Set[Long]] = {
    val norm = v.map(x => math.sqrt(x.map(a => a.toDouble * a).sum))
    (0 until nQueries).map { q =>
      val scored = v.indices.iterator.filter(_ != q).map { i =>
        var d = 0.0
        var j = 0
        while (j < dim) { d += v(q)(j).toDouble * v(i)(j); j += 1 }
        val c = math.rint(d / (norm(q) * norm(i)) * 1e6) / 1e6
        (c, i)
      }.toArray.sortBy { case (c, i) => (-c, i) }
      q.toLong -> scored.take(k).map(_._2.toLong).toSet
    }.toMap
  }

  def inputMiB(in: CorpusIn): Double = in.bytes / 1048576.0
  /** Input cells of a corpus: vector elements. */
  def cells(in: CorpusIn): Long = in.n.toLong * dim

  private def emb(spark: SparkSession, in: CorpusIn): DataFrame =
    spark.read.parquet(in.path)

  val paths: Seq[String] = Seq("ivfpq", "ivfpq_trained",
    "ivfpq_residual_rerank")

  def path(spark: SparkSession, in: CorpusIn, p: String): Array[Row] = {
    val e = emb(spark, in)
    (p match {
      case "ivfpq" => Similarity.ivfPqTopK(e, nCentroids, nProbe = 4,
        nQueries = nQueries, k = k, dim = dim)
      case "ivfpq_trained" => Similarity.ivfPqTrainedTopK(e, nCentroids,
        nProbe = 4, nQueries = nQueries, k = k, dim = dim)
      case _ => Similarity.ivfPqResidualRerankTopK(e, nCentroids,
        nQueries = nQueries, k = k, dim = dim)
    }).select("qid", "vec_id").collect()
  }

  @volatile private var last: Seq[Array[Row]] = Nil

  def run(spark: SparkSession, in: CorpusIn): Unit =
    last = paths.map(path(spark, in, _))

  def recall(in: CorpusIn, rows: Array[Row]): Double = {
    val got = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    in.exact.map { case (q, truth) =>
      (got.getOrElse(q, Set.empty[Long]) intersect truth).size
    }.sum.toDouble / (nQueries * k)
  }

  /** Mean recall@k of the three paths; fails below the floor or on a
    * result that does not hold k neighbours for every query.
    */
  def check(spark: SparkSession, in: CorpusIn): Double = {
    last.zip(paths).foreach { case (rows, p) =>
      if (rows.length != nQueries * k)
        throw new CheckFailed(s"$name/$p: ${rows.length} rows, " +
          s"want ${nQueries * k}")
    }
    val r = last.map(recall(in, _)).sum / last.length
    if (r < recallFloor)
      throw new CheckFailed(f"$name: recall@$k $r%.4f < floor $recallFloor")
    r
  }

  /** Each path once, then the residual path split into its public
    * train, index and search calls.
    */
  def layers(spark: SparkSession, fresh: () => CorpusIn,
             span: Span): Map[String, Double] = {
    val in = fresh()
    val out = scala.collection.mutable.Map[String, Double]()
    paths.foreach { p =>
      out(s"llm.${p}_s") = span.time("llm") { path(spark, in, p) }
    }
    val e = emb(spark, in)
    var model: Similarity.IvfPqResidualModel = null
    out("llm.train_s") = span.time("llm") {
      model = Similarity.IvfPqResidualModel.train(e, nCentroids, dim = dim)
    }
    var index: DataFrame = null
    out("llm.index_s") = span.time("llm") {
      index = Similarity.ivfPqResidualIndex(e, model, dim = dim)
        .localCheckpoint(eager = true)
    }
    val embq = e.select(col("vec_id"),
      expr(Clustering.quantSql("embedding")(SparkD)).as("qv"))
    val queries = embq.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qe"))
    out("llm.search_s") = span.time("llm") {
      Similarity.ivfPqResidualRerankSearch(index, embq, queries, model,
        k = k, dim = dim).collect()
    }
    out.toMap
  }

  def pipelineS(layers: Map[String, Double]): Double =
    paths.map(p => layers(s"llm.${p}_s")).sum
}
