package graft

import graft.llm.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF coarse-quantiser training: Lloyd iterations must not increase
  * the quantisation cost, and search against the trained centroids
  * keeps the top-k contract.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** `emb`'s first 8 vectors as `(qid, qe)` in micro units. */
  private def microQueries = {
    import graft.llm.Clustering
    import graft.llm.TextExprs.SparkD
    emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        expr(Clustering.quantSql("embedding")(SparkD)).as("qe"))
  }

  /** The serving split: `model`'s index persisted `partitionBy("cell")`
    * and searched with `staticPrune` must reproduce the composed `gate`,
    * and the static IN filter over the partition column must reach the
    * scan as a PartitionFilter (at 100 TB: only probed cells' files are
    * read — the AnnProbe-measured serving property). AQE wraps the scan
    * nodes, so the assertion reads the executed plan's rendering.
    */
  private def assertServingSplit(model: Similarity.IvfPqModel,
                                 queries: org.apache.spark.sql.DataFrame,
                                 gate: org.apache.spark.sql.DataFrame,
                                 what: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("annidx")
      .toString + "/index"
    Similarity.ivfPqIndex(emb, model)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val served = Similarity.ivfPqSearch(spark.read.parquet(dir), queries,
      model, staticPrune = true)
    assert(rows(served) == rows(gate),
      s"served $what path must reproduce the composed gate")
    served.collect()
    val pf = served.queryExecution.executedPlan.toString().linesIterator
      .filter(_.contains("PartitionFilters: [")).mkString(";")
    assert(pf.contains("cell"),
      s"probe cells must prune partitions, got: $pf")
  }

  /** Mean squared distance of each vector to its NEAREST centroid. */
  private def cost(cents: Array[(Int, Array[Float])]): Double = {
    graft.functions.FloatVecDot.register(spark)
    val dists = cents.map { case (_, ce) =>
      // |x - c|^2 = |x|^2 - 2<x,c> + |c|^2
      expr("float_dot(embedding, embedding)") -
        lit(2.0) * call_function("float_dot", col("embedding"), lit(ce)) +
        lit(ce.map(v => v.toDouble * v.toDouble).sum)
    }
    emb.select(avg(least(dists: _*)).as("c")).head().getDouble(0)
  }

  test("lloyd iterations never increase quantisation cost") {
    val seed = Similarity.trainIvfCentroids(emb, k = 8, iters = 0)
    val it1 = Similarity.trainIvfCentroids(emb, k = 8, iters = 1)
    val it3 = Similarity.trainIvfCentroids(emb, k = 8, iters = 3)
    val (c0, c1, c3) = (cost(seed), cost(it1), cost(it3))
    assert(c1 <= c0 + 1e-9, s"iter1 cost $c1 > seed $c0")
    assert(c3 <= c1 + 1e-9, s"iter3 cost $c3 > iter1 $c1")
  }

  test("pq: seed vectors reconstruct exactly, scores track true dots") {
    graft.functions.FloatVecDot.register(spark)
    val res = Similarity.pqTopK(emb, nQueries = 4, k = 50).cache()
    // a seed vector (vec_id < 16) is its own nearest codeword in every
    // subspace, so its ADC score IS the true dot product (up to the
    // association change of summing per-subspace partial dots)
    val joined = res.where(col("vec_id") < 16)
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qe")), "qid")
      .join(emb, "vec_id")
      .withColumn("true_dot",
        call_function("float_dot", col("qe"), col("embedding")))
    val bad = joined
      .where(abs(col("pq_score") - col("true_dot")) > 1e-5).count()
    assert(bad == 0, s"$bad seed vectors mis-reconstructed")
    // ranks are 1..n per query, score-descending
    val byQ = res.orderBy("qid", "rank").collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).toSeq == (1L to rows.length))
      val s = rows.map(_.getDouble(3))
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    }
  }

  test("search against trained centroids keeps the top-k contract") {
    val trained = Similarity.trainIvfCentroids(emb, k = 8, iters = 2)
    val res = Similarity.ivfTopKWith(emb, trained, nProbe = 2,
      nQueries = 4, k = 5).cache()
    assert(res.groupBy("qid").count().collect()
      .forall(_.getLong(1) <= 5))
    // ranks are 1..n per query, cosine-descending
    val byQ = res.orderBy("qid", "rank").collect()
      .groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).toSeq == (1L to rows.length))
      val sims = rows.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ANN recall@k: IVF recall rises with nProbe and reaches 1.0 " +
    "when every cell is probed") {
    def ivfRecall(nProbe: Int): (Long, Long) = {
      val r = Similarity.annRecall(emb, nProbe = nProbe,
        fixtureScale = true)
        .where(col("method") === "ivf").head()
      (r.getLong(1), r.getLong(2))
    }
    val (h2, t2) = ivfRecall(2)
    val (h8, t8) = ivfRecall(8)
    val (hAll, tAll) = ivfRecall(16)
    assert(t2 == t8 && t8 == tAll && t2 > 0)
    // the recall/cost dial: more probed cells can only add candidates
    assert(h2 <= h8 && h8 <= hAll,
      s"recall must be monotone in nProbe: $h2/$t2, $h8/$t8, $hAll/$tAll")
    assert(h2 < hAll,
      s"probing all cells must beat nProbe=2 on this fixture: $h2 vs $hAll")
    // probing ALL cells ranks the full corpus by the same rounded
    // cosine rule as brute force -> exact ground truth
    assert(hAll == tAll, s"full probe should be exact: $hAll/$tAll")
  }

  test("IVF-PQ: probing every cell reproduces the full PQ/ADC scan") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "rank", "vec_id", "pq_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // nProbe = nCentroids -> candidate set = whole corpus, ADC scores
    // identical by construction -> the composed index degrades to pqTopK
    val full = rows(Similarity.ivfPqTopK(emb, nProbe = 16,
      fixtureScale = true))
    val pq = rows(Similarity.pqTopK(emb))
    assert(full == pq, "full probe must reproduce pqTopK exactly")
    // the pruned index returns exactly nQueries x k ranked rows and
    // stays a subset of each query's probed cells (well-formed output)
    val pruned = Similarity.ivfPqTopK(emb, nProbe = 2,
      fixtureScale = true)
    assert(pruned.count() == 8L * 5)
    // recall is graded by the q_sim8 gate; here just pin that the
    // composed index is reported alongside the others
    val methods = Similarity.annRecall(emb, fixtureScale = true)
      .select("method").collect().map(_.getString(0)).toSet
    assert(methods == Set("ivf", "ivfpq", "ivfpq_rerank",
      "ivfpq_residual", "ivfpq_trained", "lsh", "lsh_multi", "pq",
      "pq_trained"))
  }

  test("PQ training: Lloyd iterations never increase quantisation " +
    "cost, trained books beat the seed books") {
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def cost(books: Array[Array[(Int, Array[Float])]]): Double = {
      val m = books.length
      val subDim = 64 / m
      vecs.iterator.map { v =>
        (0 until m).map { s =>
          val sv = v.slice(s * subDim, (s + 1) * subDim)
          books(s).map { case (_, cw) =>
            sv.zip(cw).map { case (a, b) =>
              val d = a.toDouble - b.toDouble; d * d
            }.sum
          }.min
        }.sum
      }.sum
    }
    val c0 = cost(Similarity.trainPqCodebooks(emb, iters = 0))
    val c1 = cost(Similarity.trainPqCodebooks(emb, iters = 1))
    val c2 = cost(Similarity.trainPqCodebooks(emb, iters = 2))
    // 1e-3 tolerance: the assignment argmax rounds scores to 6 dp for
    // gate determinism, so strict Lloyd monotonicity holds up to that
    assert(c1 <= c0 + 1e-3 && c2 <= c1 + 1e-3,
      s"quantisation cost must not increase: $c0 -> $c1 -> $c2")
    assert(c2 < c0,
      s"training must strictly improve on the seed books: $c0 -> $c2")
    // the trained books drop into the same ADC search
    val trained = Similarity.pqTopKWith(emb,
      Similarity.trainPqCodebooks(emb, iters = 2))
    assert(trained.count() == 8L * 5)
  }

  test("trained-PQ exact path (q_sim11): training moves the books, " +
    "the ADC search keeps the top-k contract and is deterministic") {
    val seeds = Similarity.pqTrainedCodebooks(emb, iters = 0)
    val books = Similarity.pqTrainedCodebooks(emb, iters = 2)
    assert(seeds.flatten.map(_._2.toSeq) != books.flatten.map(_._2.toSeq),
      "Lloyd iterations must move the codewords off the seeds")
    // micro-unit quantisation cost never increases across iterations
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(x =>
        math.round(x.toDouble * 1e6).toDouble))
    def cost(bk: Array[Array[(Int, Array[Double])]]): Double = {
      val m = bk.length
      val subDim = 64 / m
      vecs.iterator.map { v =>
        (0 until m).map { s =>
          val sv = v.slice(s * subDim, (s + 1) * subDim)
          bk(s).map { case (_, cw) =>
            sv.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
          }.min
        }.sum
      }.sum
    }
    assert(cost(books) < cost(seeds),
      s"training must improve: ${cost(seeds)} -> ${cost(books)}")
    val r1 = Similarity.pqTrainedTopK(emb, fixtureScale = true)
    assert(r1.count() == 8L * 5)
    val rows = r1.collect().map(_.toSeq).toSet
    assert(rows == Similarity.pqTrainedTopK(emb, fixtureScale = true)
      .collect().map(_.toSeq).toSet, "trained ADC search must be " +
      "deterministic run-to-run")
  }

  test("fully-trained IVF-PQ (q_sim12): probing every trained cell " +
    "reproduces the full trained-PQ/ADC scan") {
    // nProbe = nCentroids removes the prune: the candidate set is the
    // whole corpus, so the result must equal the un-pruned trained
    // ADC scan — identical books, identical scoring rule
    val full = Similarity.ivfPqTrainedTopK(emb, nProbe = 16,
      fixtureScale = true)
    assert(rows(full) == rows(
      Similarity.pqTrainedTopK(emb, fixtureScale = true)),
      "full-probe trained IVF-PQ must reproduce the trained PQ scan")
    // the pruned path keeps the top-k contract per query
    val pruned = Similarity.ivfPqTrainedTopK(emb, fixtureScale = true)
    val perQ = pruned.groupBy("qid").count().collect()
    assert(perQ.forall(_.getLong(1) <= 5))
    assert(pruned.count() > 0)
  }

  test("seeded IVF-PQ serving split: a persisted cell-partitioned " +
    "index + static prune reproduces the q_sim10 composed gate as a " +
    "partition-pruned read") {
    assertServingSplit(Similarity.IvfPqModel.seed(emb),
      emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      Similarity.ivfPqTopK(emb, fixtureScale = true), "seeded")
  }

  test("trained IVF-PQ serving split: a persisted cell-partitioned " +
    "index + static prune reproduces the composed gate as a " +
    "partition-pruned read") {
    assertServingSplit(Similarity.IvfPqModel.train(emb), microQueries,
      Similarity.ivfPqTrainedTopK(emb, fixtureScale = true), "trained")
  }

  test("residual IVF-PQ (q_sim13): snapped centroids live on the " +
    "integer micro grid, books train on residuals, and the serving " +
    "split reproduces the composed gate as a partition-pruned read") {
    val model = Similarity.IvfPqModel.residual(emb)
    val centsQ = model.centsQ.get
    // the snap target is integer-valued (exact residual arithmetic)
    assert(centsQ.forall(_._2.forall(x => x == math.rint(x)
      || x == math.floor(x) || x == math.ceil(x))),
      "snapped centroids must be integers held in doubles")
    assert(centsQ.forall { case (cid, v) =>
      v.zip(model.cents.find(_._1 == cid).get._2)
        .forall { case (q, c) => math.abs(q - c) <= 0.5 } },
      "snap must move each component at most half a micro unit")
    // residual books are NOT the raw-vector books: the encoding
    // genuinely quantises x − centroid(cell)
    val rawBooks = Similarity.pqTrainedCodebooks(emb)
    assert(model.books.flatten.map(_._2.toSeq) !=
      rawBooks.flatten.map(_._2.toSeq),
      "residual training must move the books off the raw-vector ones")
    // serving split: persisted cell-partitioned index + static prune
    // ≡ the composed q_sim13 gate, with the probe filter reaching the
    // scan as a PartitionFilter
    assertServingSplit(model, microQueries, SparkEntry.queries(
      "q_sim13_ann_ivfpq_residual")(spark, "/root/testdata/sf0.001"),
      "residual")
  }

  test("recall matrix: residual encoding beats raw-vector codes at " +
    "the same 8-byte budget; exact re-rank restores recall >= 0.95") {
    val m = Similarity.annRecall(emb, fixtureScale = true)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(m("ivfpq_residual") >= m("ivfpq_trained"),
      s"residual ${m("ivfpq_residual")} must be >= raw-vector " +
        s"${m("ivfpq_trained")} at the same code budget")
    assert(m("ivfpq_rerank") >= 0.95,
      s"rerank recall ${m("ivfpq_rerank")} must be >= 0.95 (exact " +
        "re-rank erases the ADC ranking error)")
    // the exact stage can only help: at the same nProbe the plain
    // trained row is a lower bound for ANY rerank configuration probing
    // at least as many cells
    assert(m("ivfpq_rerank") >= m("ivfpq_trained"))
  }

  test("qround: integer snap breaks .5 ties away from zero at every " +
    "magnitude (the measured DuckDB round(x) rule)") {
    // exact .5 ties ARE reachable (centroid component = S/n, S an
    // exact integer sum); DuckDB measured: round(2.5)=3,
    // round(-2.5)=-3, round(333332.5)=333333, round(1234567.5)=1234568
    // — including inside list_transform, the sim13 oracle's form
    val cases = Seq(
      0.5 -> 1.0, -0.5 -> -1.0, 2.5 -> 3.0, -2.5 -> -3.0,
      3.5 -> 4.0, -3.5 -> -4.0, 333332.5 -> 333333.0,
      -333332.5 -> -333333.0, 1234567.5 -> 1234568.0,
      999999.5 -> 1000000.0, 0.0 -> 0.0, 7.0 -> 7.0, -7.2 -> -7.0,
      7.7 -> 8.0,
      // near-tie ULP cases (one ULP below a half-integer): the naive
      // floor(x+0.5) form rounds these UP because the ADDITION hits
      // the half first — DuckDB measured round(0.49999999999999994)=0,
      // round(2.4999999999999996)=2 (incl. inside list_transform)
      0.49999999999999994 -> 0.0, -0.49999999999999994 -> -0.0,
      2.4999999999999996 -> 2.0, -2.4999999999999996 -> -2.0,
      // one ULP above a half rounds away, as before
      0.5000000000000001 -> 1.0, -0.5000000000000001 -> -1.0)
    cases.foreach { case (x, want) =>
      assert(Similarity.qround(x) == want,
        s"qround($x) = ${Similarity.qround(x)}, want $want")
    }
  }

  test("residual index + exact re-rank (q_sim15): recall >= 0.95 on " +
    "the fixture, well-formed per-query top-k") {
    val out = Similarity.ivfPqResidualRerankTopK(emb,
      fixtureScale = true)
    val truth = Similarity.bruteForceTopK(emb, 8, 5)
      .select("qid", "vec_id")
    val hits = out.join(truth, Seq("qid", "vec_id")).count()
    val nTruth = truth.count()
    assert(hits.toDouble / nTruth >= 0.95,
      s"residual+rerank recall $hits/$nTruth below 0.95")
    val perQ = out.groupBy("qid").count().collect()
    assert(perQ.forall(_.getLong(1) <= 5) && out.count() > 0)
  }

  test("rerank recall is monotone in the exact budget r") {
    import graft.llm.Clustering
    import graft.llm.TextExprs.SparkD
    graft.functions.DoubleVecDot.register(spark)
    val tm = Similarity.IvfPqModel.train(emb)
    val idx = Similarity.ivfPqIndex(emb, tm)
      .localCheckpoint(eager = false)
    val embq = emb.select(col("vec_id"),
      expr(Clustering.quantSql("embedding")(SparkD)).as("qv"))
    val q = embq.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("qv").as("qe"))
    val truth = Similarity.bruteForceTopK(emb, 8, 5)
      .select("qid", "vec_id")
    def hits(r: Int): Long =
      Similarity.ivfPqRerankSearch(idx, embq, q, tm, nProbe = 8,
        r = r, k = 5).join(truth, Seq("qid", "vec_id")).count()
    val (h10, h40, h160) = (hits(10), hits(40), hits(160))
    assert(h10 <= h40 && h40 <= h160,
      s"recall must be monotone in r: $h10, $h40, $h160")
    assert(h160 > h10,
      s"a bigger exact budget must pay on this fixture: $h10 vs $h160")
  }

  test("staleness report (q_sim16): well-formed occupancy split, " +
    "stale recall <= fresh recall, stale occupancy drifts") {
    val rep = Similarity.indexStalenessReport(emb, fixtureScale = true)
      .collect()
    assert(rep.length == 16, "one row per stale-model cell")
    val oldCut = Similarity.StalenessOldCut
    val corpus = emb.count()
    // the occupancy split partitions the grown corpus exactly
    assert(rep.map(_.getLong(1)).sum == math.min(oldCut, corpus),
      "n_old must total the old corpus")
    assert(rep.map(_.getLong(2)).sum == corpus - math.min(oldCut, corpus),
      "n_new must total the arrivals")
    val (staleHits, freshHits, total) =
      (rep.head.getLong(3), rep.head.getLong(4), rep.head.getLong(5))
    assert(total == 40L, "8 queries x top-5 ground truth")
    // the retrain trigger: a model that never saw the arrivals cannot
    // beat the fresh-trained one on this fixture
    assert(staleHits <= freshHits,
      s"stale $staleHits must be <= fresh $freshHits")
    // and the summary columns are constant across rows
    assert(rep.forall(r => r.getLong(3) == staleHits &&
      r.getLong(4) == freshHits && r.getLong(5) == total))
  }

  test("incremental maintenance (q_sim17): recall ordering stale <= " +
    "rebalanced <= fresh; incremental re-encode equals the " +
    "from-scratch encode; the hot cell actually splits") {
    import org.apache.spark.sql.functions.col
    val rep = Similarity.indexRebalanceReport(emb, fixtureScale = true)
      .collect().sortBy(_.getLong(0))
    assert(rep.length == 17, "k+1 rows after the hot-cell split")
    val corpus = emb.count()
    // both occupancy columns partition the grown corpus exactly
    assert(rep.map(_.getLong(1)).sum == corpus)
    assert(rep.map(_.getLong(2)).sum == corpus)
    // the new cell (cid = k) exists only after the rebalance and is
    // non-empty: the split actually moved members
    val newCell = rep.last
    assert(newCell.getLong(0) == 16L && newCell.getLong(1) == 0L &&
      newCell.getLong(2) > 0L, "sub-centroid 1 must take members")
    // the REPAIR ordering the operator exists for
    val (st, rb, fr) = (rep.head.getLong(3), rep.head.getLong(4),
      rep.head.getLong(5))
    assert(st <= rb && rb <= fr,
      s"recall must order stale $st <= rebalanced $rb <= fresh $fr")

    // incremental re-encode exactness: new arrivals encoded into the
    // EXISTING model, unioned with the old index, equal the
    // from-scratch full-corpus encode under the same model row-by-row
    val oldCut = Similarity.StalenessOldCut
    val embOld = emb.where(col("vec_id") < oldCut)
    val embNew = emb.where(col("vec_id") >= oldCut)
    val model = Similarity.IvfPqModel.residual(embOld)
    val incremental = Similarity.ivfPqIndex(embOld, model)
      .unionAll(Similarity.ivfPqIndex(embNew, model))
    val scratch = Similarity.ivfPqIndex(emb, model)
    assert(incremental.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(incremental).isEmpty,
      "incremental index build must equal the from-scratch encode")
  }

  test("multi-cell repair + merge (q_sim18): recall ladder stale <= " +
    "single-split <= multi at splits=1; k stays bounded; the split " +
    "de-skews; the splits=2 merge trade is measured and stated") {
    val single = Similarity.indexRebalanceReport(emb,
      fixtureScale = true).collect()
    val multi = Similarity.indexMultiRepairReport(emb,
      fixtureScale = true).collect().sortBy(_.getLong(0))
    // k-bounded invariant: the multi report covers EXACTLY the dense
    // cid range 0..k-1 — no appended cells, ever (the split-only
    // policy grows probe cost without limit; this is the dual)
    assert(multi.length == 16, "k must stay bounded at 16")
    assert(multi.map(_.getLong(0)).toSeq == (0L until 16L),
      "cids must stay dense 0..k-1")
    val corpus = emb.count()
    assert(multi.map(_.getLong(1)).sum == corpus)
    assert(multi.map(_.getLong(2)).sum == corpus)
    // the repair acts where the policy aimed: at least one split cell
    // visibly shrinks. NOT every split cell, and not the global max —
    // assignment is a global argmax, so a split cell can be
    // backfilled by migrants from the two MERGED cells (measured on
    // this fixture: hot cell 14 splits 45 → sub-centroids yet lands
    // at 50 after absorbing a merged cell's members)
    val hotRows = multi.sortBy(r => (-r.getLong(1), r.getLong(0)))
      .take(2)
    assert(hotRows.exists(r => r.getLong(2) < r.getLong(1)),
      "the split must visibly shrink a hot cell: " + hotRows.map(r =>
        s"cell ${r.getLong(0)} ${r.getLong(1)}->${r.getLong(2)}")
        .mkString(", "))
    // and occupancy genuinely MOVED (the repair is not a no-op)
    assert(multi.exists(r => r.getLong(2) != r.getLong(1)),
      "repair must change the assignment")
    // stale/fresh legs agree across the two reports (same machinery)
    assert(multi.head.getLong(3) == single.head.getLong(3) &&
      multi.head.getLong(5) == single.head.getLong(5))
    // the REPAIR LADDER, at splits = 1 (split the hottest + merge the
    // coldest): stale <= single-split <= multi. Measured on this
    // fixture: 13 <= 14 <= 16 — the merge reclaims a near-empty cell
    // at no recall cost. NO `<= fresh` upper rung: fresh is itself an
    // approximation and the repaired quantiser legitimately overshoots
    // it here (16 vs 15 of 40).
    val one = Similarity.indexMultiRepairReport(emb, splits = 1,
      fixtureScale = true).head()
    val st = one.getLong(3)
    val mu1 = one.getLong(4)
    val sg = single.head.getLong(4) // rebal_hits of the single report
    assert(st <= sg && sg <= mu1,
      s"recall must order stale $st <= single $sg <= multi(1) $mu1")
    // the splits = 2 gate shape is pinned for DETERMINISM and bounded
    // k, not for a recall ordering: merging a second, still-populated
    // cell trades recall for the k bound (measured: multi(2) = 12 vs
    // single 14 here, 13 vs 14 at sf0.01) — the honest cost of the
    // dual operation, stated rather than hidden.
    val mu2 = multi.head.getLong(4)
    assert(mu2 > 0L, "splits=2 must still serve")
  }

  test("composed maintenance (q_sim19): the gate threshold fires on " +
    "the fixture and serves the repaired model; a below-threshold " +
    "report leaves the model UNTOUCHED") {
    // gate shape (trigNum/trigDen = 6/5): the fixture's hottest stale
    // cell exceeds 1.2x the mean, so the flow must repair and serve
    // the rebalanced model — n_after is the k+1-cell split occupancy
    val fired = Similarity.indexMaintenance(emb, fixtureScale = true)
      .collect().sortBy(_.getLong(0))
    assert(fired.length == 17, "branch-invariant schema: k+1 rows")
    assert(fired.head.getLong(3) == 1L, "the gate threshold must fire")
    val corpus = emb.count()
    assert(fired.map(_.getLong(2)).sum == corpus)
    assert(fired.last.getLong(2) > 0L,
      "triggered flow must serve the SPLIT model (cell k non-empty)")
    // the served hits equal the sim17 rebalanced leg (same repair)
    val rebal = Similarity.indexRebalanceReport(emb,
      fixtureScale = true).head()
    assert(fired.head.getLong(4) == rebal.getLong(4),
      "served_hits must equal the q_sim17 rebalanced leg")
    // below threshold (1000x the mean): monitor runs, repair must NOT
    val idle = Similarity.indexMaintenance(emb, trigNum = 1000,
      trigDen = 1, fixtureScale = true).collect().sortBy(_.getLong(0))
    assert(idle.head.getLong(3) == 0L, "must not trigger")
    assert(idle.forall(r => r.getLong(1) == r.getLong(2)),
      "untriggered maintenance must leave occupancy untouched " +
        "(n_after = n_before on every cell)")
    assert(idle.last.getLong(1) == 0L && idle.last.getLong(2) == 0L,
      "no split cell may appear when untriggered")
    // untouched serving = the stale leg (sim16/17's stale hits)
    assert(idle.head.getLong(4) == rebal.getLong(3),
      "untriggered served_hits must equal the stale leg")
  }

  test("multi-table LSH: 1 table matches the single-bucket index, " +
    "recall rises with table count") {
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(2 - 1))).toSet
    // L = 1 is exactly the single-table index's candidate set + rank
    val one = ids(Similarity.lshMultiTopK(emb, 8, 5, nTables = 1))
    val single = ids(Similarity.lshTopK(emb, 8, 5))
    assert(one == single, "nTables = 1 must reproduce lshTopK")
    def recall(nT: Int): Long =
      Similarity.annRecall(emb, nTables = nT, fixtureScale = true)
        .where(col("method") === "lsh_multi").head().getLong(1)
    val (r1, r2, r4) = (recall(1), recall(2), recall(4))
    assert(r1 <= r2 && r2 <= r4,
      s"recall must be monotone in tables: $r1, $r2, $r4")
    assert(r4 > r1,
      s"4 tables must beat 1 on this fixture: $r1 vs $r4")
  }
}
