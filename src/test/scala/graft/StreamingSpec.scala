package graft

import graft.llm.Events
import graft.streaming.EventsStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming/batch parity: the Structured Streaming windowed aggregate
  * must produce the same closed-window rows as the batch twin.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming exact dedup keeps exactly the batch-distinct keys") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.DedupStream.runOnce(spark, dir)
    val batch = Events.readEvents(spark, dir)
      .select(md5(col("props")).as("content_hash")).distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.select("content_hash").collect()
      .map(_.getString(0)).toSet ==
      batch.collect().map(_.getString(0)).toSet)
  }

  test("streaming vis chain equals batch corrections + averaging") {
    import graft.model.Dims
    import graft.ops._
    val dir = "/root/testdata/sf0.001"
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(
      graft.synth.VisSynth.vis(spark, dir), Dims.timestep(spark),
      Dims.chan(spark), Dims.baseline(spark)))
    val tmp = java.nio.file.Files.createTempDirectory("visstream")
      .toString
    weighted.write.mode("overwrite").parquet(tmp)

    val streamed = graft.streaming.VisStream.runOnce(spark, tmp)
    val batch = Averaging.avgTimeFreq(
      graft.streaming.VisStream.corrected(spark, weighted), 2, 2)
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
      col("bl") +: col("t_out") +: col("c_out") +:
        (0 until 8).map(k => round(col(s"a$k"), 6)) :+
        col("flag_out") :+ round(col("weight_out"), 6): _*)
      .collect().map(_.toSeq).toSet
    val s = key(streamed)
    val b = key(batch)
    assert(s == b, s"streaming ${s.size} rows vs batch ${b.size}")
  }

  test("streaming windowed agg equals batch windowAgg") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runOnce(spark, dir)
      .select(expr("unix_seconds(win_start)").as("win_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))
    val batch = Events.windowAgg(Events.readEvents(spark, dir))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming rows ${s.size} vs batch ${b.size}")
  }

  test("events stream starts on an empty dir (files appearing later) " +
    "via the fallback schema") {
    val empty = java.nio.file.Files.createTempDirectory("ev_empty")
      .toString
    // schema discovery has no footers to read -> nano-long fallback
    assert(EventsStream.discoverSchema(spark, empty) ==
      EventsStream.FallbackSchema)
    // and the stream itself starts and completes with zero rows
    val out = EventsStream.runOnce(spark, empty, "events_empty")
    assert(out.count() == 0L)
  }

  test("streaming corpus chunking equals the batch operator") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.chunkOnce(spark, dir)
    val batch = graft.llm.Corpus.chunkWindows(
      spark.read.parquet(s"$dir/documents.parquet"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} windows vs batch ${b.size}")
  }

  test("streaming contamination screen equals the batch operator") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.screenOnce(spark, dir)
    val batch = graft.llm.Corpus.contamination(
      spark.read.parquet(s"$dir/documents.parquet"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} rows vs batch ${b.size}")
  }

  test("streaming Gopher filter equals the batch operator") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.gopherOnce(spark, dir)
    val batch = graft.llm.TextAnalysis.gopherFilter(
      spark.read.parquet(s"$dir/documents.parquet"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} rows vs batch ${b.size}")
  }

  test("streaming BPE pair counts equal the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.pairCountOnce(spark, dir)
    // batch twin of the pre-top-k aggregate: same explode + count
    val batch = graft.llm.Corpus.bpePairStats(
      spark.read.parquet(s"$dir/documents.parquet"),
      topK = Int.MaxValue).drop("rk")
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} pairs vs batch ${b.size}")
  }

  test("streaming DSIR scorer (offline model, row-local fold) equals " +
    "batch dsirScore exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.dsirOnce(spark, dir)
    val batch = graft.llm.Corpus.dsirScore(
      spark.read.parquet(s"$dir/documents.parquet"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} docs vs batch ${b.size}")
  }

  test("streaming quality classifier (offline weights) equals batch " +
    "perceptronApply exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.classifyOnce(spark, dir)
    val batch = graft.llm.Classifier.perceptronApply(
      spark.read.parquet(s"$dir/documents.parquet"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} docs vs batch ${b.size}")
  }

  test("streaming tokenizer (row-local merge fold) equals batch " +
    "bpeApply exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.CorpusStream.tokenizeOnce(spark, dir)
    val batch = graft.llm.Corpus.bpeApply(
      spark.read.parquet(s"$dir/documents.parquet"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b, s"streaming ${s.size} docs vs batch ${b.size}")
  }

  test("streaming IVF-PQ indexer and standing-query matcher equal " +
    "their batch twins exactly") {
    import graft.llm.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Similarity.IvfPqModel.seed(emb)
    // indexer parity: the streamed index IS the batch index
    val sIdx = graft.streaming.AnnStream.runIndexOnce(spark, dir, model)
      .collect().map(_.toSeq).toSet
    val bIdx = Similarity.ivfPqIndex(emb, model)
      .collect().map(_.toSeq).toSet
    assert(sIdx == bIdx, s"index parity: ${sIdx.size} vs ${bIdx.size}")
    // matcher parity: same threshold over the same ADC scores; the
    // batch twin is the identical expression on the batch frame
    val queries = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val minQ = 500000L
    val sMatch = graft.streaming.AnnStream
      .runMatchOnce(spark, dir, queries, model, minQ)
      .collect().map(_.toSeq).toSet
    val bMatch = graft.streaming.AnnStream.matchStream(emb, queries,
      model, minQ).collect().map(_.toSeq).toSet
    assert(sMatch == bMatch,
      s"match parity: ${sMatch.size} vs ${bMatch.size}")
    assert(sMatch.nonEmpty, "threshold should admit some matches")
  }

  test("streaming indexer with the FULLY-trained model equals its " +
    "batch twin exactly (offline-trained model, stateless stream)") {
    import graft.llm.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Similarity.IvfPqModel.train(emb)
    val sIdx = graft.streaming.AnnStream
      .runIndexOnce(spark, dir, model)
      .collect().map(_.toSeq).toSet
    val bIdx = Similarity.ivfPqIndex(emb, model)
      .collect().map(_.toSeq).toSet
    assert(sIdx == bIdx,
      s"trained index parity: ${sIdx.size} vs ${bIdx.size}")
    assert(sIdx.nonEmpty)
  }

  test("streaming indexer with the RESIDUAL model equals its batch " +
    "twin exactly (canonical IVF-ADC layout, stateless stream)") {
    import graft.llm.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Similarity.IvfPqModel.residual(emb)
    val sIdx = graft.streaming.AnnStream
      .runIndexOnce(spark, dir, model)
      .collect().map(_.toSeq).toSet
    val bIdx = Similarity.ivfPqIndex(emb, model)
      .collect().map(_.toSeq).toSet
    assert(sIdx == bIdx,
      s"residual index parity: ${sIdx.size} vs ${bIdx.size}")
    assert(sIdx.nonEmpty)
  }
}
