package graft.tools

import graft.llm.Similarity
import graft.llm.Similarity.IvfPqModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** SCALE.md evidence tool for the ANN index layout claim: persisting
  * the IVF-PQ index partitioned by `cell` turns a probe into a
  * partition-pruned read (files read ∝ nProbe/nCells), where the
  * plain layout scans every file of the index no matter how few
  * cells the query probes.
  *
  * The sf0.1 embeddings table is tiny (2 000 rows), so the corpus is
  * amplified deterministically (replica r re-ids vectors by
  * `vec_id + 2000·r`; embeddings unchanged, so cell populations
  * scale uniformly) — the probe measures LAYOUT behaviour, and the
  * files-read count is the decision number: at 100 TB each unread
  * file is an unread slice of the corpus.
  */
object AnnProbe {

  private def scanStats(df: DataFrame): (Long, Long) = {
    // execute THROUGH df.queryExecution (a write spawns its own
    // QueryExecution, leaving these nodes' metrics untouched); the
    // result is top-k sized, so collect() is bounded
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    val files = scans.map(s =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val rows = scans.map(s =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    (files, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rep = sys.env.getOrElse("SPARK_GRAFT_ANN_REP", "512").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
      .max(3)
    val spark = graft.Bench.sessionFor(cpus)
    // AQE off so executedPlan.collect reaches the scan nodes and
    // their metrics directly (layout comparison, not AQE study)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val model = IvfPqModel.seed(emb)
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()

    // deterministic ×rep amplification (same embeddings, fresh ids)
    val big = emb.crossJoin(
        spark.range(rep.toLong).select(col("id").as("r")))
      .select((col("vec_id") + col("r") * n).as("vec_id"),
        col("embedding"))
    val index = Similarity.ivfPqIndex(big, model)

    println(s"[annprobe] corpus = ${n * rep} vectors " +
      s"(${n} × $rep), 16 cells, writing layouts ...")
    val plainDir = "/tmp/graft_ann_probe/plain"
    val cellDir = "/tmp/graft_ann_probe/by_cell"
    // comparable file granularity: the plain layout gets as many
    // files as cores (a single giant file would hide its full-scan
    // cost behind "1 file read")
    index.repartition(cpus.toInt).write.mode("overwrite")
      .parquet(plainDir)
    index.write.mode("overwrite").partitionBy("cell").parquet(cellDir)

    val oneQuery = queries.where(col("qid") === 0).localCheckpoint()
    val layouts = Seq(
      ("plain", plainDir, false, queries),
      ("plain+prune", plainDir, true, queries),
      ("cell_part", cellDir, false, queries),
      ("cell_part+prune", cellDir, true, queries),
      ("cell_part+prune q=1", cellDir, true, oneQuery))
    println(f"[annprobe] ${"layout"}%-20s ${"median_s"}%9s " +
      f"${"files"}%7s ${"scan_rows"}%10s")
    val results = layouts.map { case (name, dir, prune, qs) =>
      val mk = () => Similarity.ivfPqSearch(
        spark.read.parquet(dir), qs, model, nProbe = 2,
        staticPrune = prune)
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val (files, rows) = scanStats(mk())
      val med = ts.sorted.apply(ts.length / 2)
      println(f"[annprobe] $name%-20s $med%9.3f $files%7d $rows%10d")
      (name, med, files, rows)
    }
    // sanity: every layout returns the in-memory plan's exact top-k
    val expect = Similarity.ivfPqSearch(index, queries, model,
      nProbe = 2).collect().map(_.toSeq).toSet
    layouts.filter(_._4 eq queries).foreach { case (name, dir, prune, _) =>
      val got = Similarity.ivfPqSearch(spark.read.parquet(dir),
        queries, model, nProbe = 2, staticPrune = prune)
        .collect().map(_.toSeq).toSet
      assert(got == expect, s"layout $name changed the answer")
    }
    println("[annprobe] all layouts agree on the top-k result")
    val one = results.find(_._1 == "cell_part+prune q=1").get
    val plain = results.find(_._1 == "plain").get
    println(f"[annprobe] one-query serve: ${one._4} of ${plain._4} " +
      f"rows (${plain._4.toDouble / one._4.max(1)}%.1fx fewer), " +
      f"${one._3} of 16 cell files")
    spark.stop()
  }
}
