package graft.streaming

import graft.llm.Similarity
import graft.llm.Similarity.IvfPqModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming twin of the IVF-PQ index
  * ([[graft.llm.Similarity.ivfPqIndex]] /
  * [[graft.llm.Similarity.ivfPqSearch]]): the two always-on halves of
  * a production vector store, for every [[IvfPqModel]] — seeded,
  * trained or residual-encoded, trained offline on the batch corpus.
  *
  *  - [[indexStream]] — continuous index MAINTENANCE: every arriving
  *    vector is assigned its coarse cell and m PQ codes (residual
  *    codes for a residual model). The model is bounded driver state
  *    baked into the plan as literals, so the stage is a stateless
  *    row-local projection — no state store, no watermark, append
  *    mode; at 100 TB/day ingest this parallelises like any map.
  *  - [[matchStream]] — STANDING queries ("alert me when something
  *    close to q arrives"): each arriving vector is ADC-scored
  *    against the broadcast query set and emitted when the score
  *    clears `minScoreQ`. Scoring is the batch search's own ADC score
  *    expression over the vector's codes, and a threshold (not top-k)
  *    keeps the operator stateless: per-query top-k over an unbounded
  *    stream is not a well-defined append query, the thresholded
  *    match set is.
  *
  * Both twins are the BATCH operators' column expressions, so parity
  * with `ivfPqIndex`/the batch threshold filter is structural
  * (StreamingSpec pins it).
  */
object AnnStream {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** File-source stream over an embeddings parquet dir (glob, so a
    * single-file fixture works and later-arriving files are new
    * micro-batches).
    */
  def readEmbStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embSchema)
      .parquet(s"$dir/embeddings.*")

  /** Streaming index maintenance: (vec_id, cell, c0..c{m-1}) per
    * arriving vector — the exact [[Similarity.ivfPqIndex]] projection
    * on an unbounded source.
    */
  def indexStream(emb: DataFrame, model: IvfPqModel): DataFrame =
    Similarity.ivfPqIndex(emb, model)

  /** Streaming standing-query match: ADC score of every arriving
    * vector against each query, kept when `score_uq >= minScoreQ`
    * (micro-unit integer, order-free). `queries` is the bounded
    * standing set `(qid, qe)` on the model's grid — broadcast, never
    * streamed.
    */
  def matchStream(emb: DataFrame, queries: DataFrame,
                  model: IvfPqModel, minScoreQ: Long): DataFrame =
    Similarity.ivfPqIndex(emb, model)
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("score_uq",
        floor(model.score(col("qe")) * 1e6 + 0.5).cast("long"))
      .where(col("score_uq") >= minScoreQ)
      .select("qid", "vec_id", "cell", "score_uq")

  /** One-shot drains for the spec. */
  def runIndexOnce(spark: SparkSession, dir: String,
                   model: IvfPqModel): DataFrame =
    StreamDrain.runOnce(indexStream(readEmbStream(spark, dir), model),
      "ann_index_stream")

  def runMatchOnce(spark: SparkSession, dir: String,
                   queries: DataFrame, model: IvfPqModel,
                   minScoreQ: Long): DataFrame =
    StreamDrain.runOnce(matchStream(readEmbStream(spark, dir),
      queries, model, minScoreQ), "ann_match_stream")
}
