package graft.llm

import graft.functions.MicroQuant
import graft.llm.TextExprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means over the embedding column — the clustering stage
  * of semantic data-curation pipelines (cluster-balanced sampling,
  * SemDeDup-style near-dup pruning, topic bucketing for mixture
  * control).
  *
  * The Lloyd loop is the textbook distributed shape (one corpus scan +
  * one map-side-combined aggregate per iteration; centroids are k×dim
  * driver-side model state, exactly like the IVF trainer in
  * [[Similarity.trainIvfCentroids]]) — but unlike the IVF trainer the
  * arithmetic here is engineered to be ORDER-FREE EXACT so the whole
  * iterated fixpoint can be twinned by a DuckDB oracle:
  *
  *  - embeddings quantise to integer micro-units held in doubles
  *    (`round(x * 1e6)`): every partial sum stays far below 2^53, so
  *    double addition never rounds and the per-cell centroid sums are
  *    bit-identical under ANY partitioning, task order, speculative
  *    re-execution, or AQE re-plan. Spark computes it with one
  *    codegen'd [[graft.functions.MicroQuant]] node (the [[quantSql]]
  *    value bit for bit, rounded by [[graft.functions.HalfUp]]);
  *    DuckDB runs the [[quantSql]] text;
  *  - centroid components are the exact rational S_d / n evaluated once
  *    as an IEEE double division — both engines produce the identical
  *    correctly-rounded double;
  *  - assignment ranks cells by `round((q·c − |c|²/2) / 1e12, 6)` (the
  *    same nearest-centroid argmax-of-dot-minus-half-norm as the IVF
  *    cell ranking, rescaled to cosine units), sequential-fold dots on
  *    both sides ([[graft.functions.DoubleVecDot]] codegen'd on Spark,
  *    `list_reduce` in DuckDB), ties broken by centroid id.
  *
  * At 100 TB: each iteration is one scan of the (cached) quantised
  * corpus with a zero-shuffle literal-centroid argmin and one hash
  * aggregate carrying k×(dim+1) partial sums per map task — no joins,
  * no pair blowup; the k×dim centroid state is megabytes for any sane
  * k. Iteration count is a fixed small constant, so total cost is
  * `iters` linear passes.
  */
object Clustering {

  /** Micro-unit quantisation of an array<float> embedding: integer
    * values held in doubles, so downstream SUMs are exact (see class
    * doc). Identical text/semantics in both dialects; the DuckDB twins
    * build SQL from it, Spark's own call sites use
    * [[graft.functions.MicroQuant]], its bit-identical node.
    */
  def quantSql(v: String)(implicit d: Dialect): String =
    listTransform(v, x => s"round(CAST($x AS DOUBLE) * 1000000.0)")

  /** Cosine-scale rescale of micro-unit² dot products. */
  private val Scale = 1.0e12

  // (the half-squared-norm fold — same element order as
  // `double_dot(cv, cv) / 2` and the oracle's `list_reduce` twin —
  // now lives in graft.functions.CellTopK.rankD)

  /** Ranked (ns, cid) struct array over a literal centroid set;
    * element 1 is the winning cell. `ns` is the negated rounded score
    * so the order is (score desc, cid asc) — round never yields −0.0,
    * so negation cannot split a tie. Fused into ONE codegen'd
    * expression ([[graft.functions.CellTopK]]) whose generated source
    * is centroid-independent: the per-iteration array_sort/struct form
    * inlined the k half-norm literals, recompiling janino sources
    * every Lloyd round; bit-identical output (spec-pinned, oracle-
    * gated).
    */
  private def cellSort(cents: Array[(Int, Array[Double])]): Column =
    graft.functions.CellTopK.rankD(col("qv"), cents, Scale, 1)

  /** One Lloyd step over the quantised corpus: zero-shuffle literal
    * argmin assignment, then ONE map-side-combined aggregate of
    * per-cell counts + per-dimension sums. Cells that captured no
    * vectors keep their previous centroid.
    */
  def lloydStep(embq: DataFrame, cents: Array[(Int, Array[Double])],
                dim: Int): Array[(Int, Array[Double])] = {
    val aggs = count(lit(1)).as("n") +: (0 until dim).map(i =>
      sum(element_at(col("qv"), i + 1)).as(s"s$i"))
    val means = embq
      .withColumn("cell", element_at(cellSort(cents), 1).getField("cid"))
      .groupBy("cell").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1).toDouble
        r.getInt(0) -> Array.tabulate(dim)(i => r.getDouble(i + 2) / n)
      }
      .toMap
    cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
  }

  /** Run the Lloyd loop from the deterministic `vec_id < k` seed set
    * and return the trained centroids (k×dim driver-side model state).
    */
  def train(emb: DataFrame, k: Int, iters: Int,
            dim: Int): Array[(Int, Array[Double])] = {
    val embq = emb
      .select(col("vec_id"), MicroQuant(col("embedding")).as("qv"))
      .cache()
    try trainQ(embq, k, iters, dim)
    finally embq.unpersist(false)
  }

  /** [[train]] over an ALREADY-quantised `(vec_id, qv)` frame, with
    * materialisation policy left to the caller — the seam that lets
    * [[graft.llm.Similarity.IvfPqModel.train]] share one quantised
    * frame between concurrent trainings.
    */
  private[llm] def trainQ(embq: DataFrame, k: Int, iters: Int,
                          dim: Int): Array[(Int, Array[Double])] = {
    graft.functions.DoubleVecDot.register(embq.sparkSession)
    var cents: Array[(Int, Array[Double])] = embq
      .where(col("vec_id") < k)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "kmeans train: empty seed centroid set")
    cents.find(_._2.length != dim).foreach { case (cid, v) =>
      throw new IllegalArgumentException(
        s"kmeans train: dim=$dim but seed vector $cid has " +
          s"${v.length} elements")
    }
    for (_ <- 0 until iters) cents = lloydStep(embq, cents, dim)
    cents
  }

  /** Final cluster assignment after `iters` Lloyd iterations from the
    * deterministic `vec_id < k` seed set. Output: one row per vector
    * with its cell and the rounded cosine-scale score that won.
    */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 3,
                   dim: Int = 64): DataFrame = {
    val cents = train(emb, k, iters, dim)
    val top = element_at(cellSort(cents), 1)
    emb
      .select(col("vec_id"), MicroQuant(col("embedding")).as("qv"))
      .withColumn("top", top)
      .select(col("vec_id"),
        col("top").getField("cid").cast("bigint").as("cell"),
        (-col("top").getField("ns")).as("score_r"))
  }

  /** SemDeDup (Abbas et al. 2023): cluster, then remove any vector
    * whose cluster holds a LOWER-id vector with cosine above `tau`.
    *
    * This is the fully-parallel existential variant of the keep-rule
    * (a vector's fate depends only on pairs against lower ids, not on
    * which of those survived) — one self-join keyed on the cell id,
    * no sequential sweep, so the pair stage shuffles once and never
    * goes corpus-quadratic: cluster count scales with corpus size,
    * bounding the per-cell pair block; residual hot cells are AQE
    * skew-splittable. Cosines reuse the float-dot machinery of the
    * ANN family (hoisted norms, sequential folds — oracle-exact).
    *
    * Output: one row per vector with its cell and kept flag (0/1).
    */
  /** One scan carrying the cell label, the embedding AND its hoisted
    * norm — the shared front of the SemDeDup family (no corpus-wide
    * re-join against a separate assignment frame).
    */
  private def assignedWithNorm(emb: DataFrame,
                               cents: Array[(Int, Array[Double])])
      : DataFrame = {
    implicit val d: Dialect = SparkD
    emb
      .select(col("vec_id"), col("embedding"),
        MicroQuant(col("embedding")).as("qv"))
      .withColumn("cell", element_at(cellSort(cents), 1)
        .getField("cid").cast("bigint"))
      .withColumn("nrm", expr(Similarity.normSql("embedding")))
      .select("vec_id", "cell", "embedding", "nrm")
  }

  /** The existential duplicate set: every vector with a lower-id
    * cluster-mate above `tau` cosine.
    */
  private def dupSet(asg: DataFrame, tau: Double): DataFrame = {
    implicit val d: Dialect = SparkD
    val a = asg.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_e"), col("nrm").as("a_n"))
    val b = asg.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_e"), col("nrm").as("b_n"))
    a.join(b, Seq("cell"))
      .where(col("a_id") < col("b_id") &&
        round(expr(Similarity.dotSql("a_e", "b_e"))
          / (col("a_n") * col("b_n")), 6) > tau)
      .select(col("b_id").as("vec_id")).distinct()
  }

  /** Cell-count honesty guard for the operators whose cost is
    * per-cell QUADRATIC (the scoped self-join in [[semDedup]] /
    * [[embPipeline]]) or whose recall depends on cell granularity
    * ([[clusterSample]], IVF probing): the k = 8 / nCentroids = 16
    * DEFAULTS are FIXTURE-sized — right for the sf* test corpora,
    * catastrophically wrong for a production corpus. k must scale
    * with the corpus: target ~1e6 vectors per cell (k ≈ rows / 1e6 —
    * a 100 TB / 1e10-vector corpus needs k ~ 1e4, not 8; 8 cells
    * would make each self-join side ~1e9 rows and the pair count
    * ~1e18). A caller using a small k must say it is running at
    * fixture scale; there is no silent path from the toy default to
    * a big corpus.
    */
  private[graft] def requireScaledK(op: String, k: Int,
                                    fixtureScale: Boolean): Unit =
    require(fixtureScale || k >= 64,
      s"$op: k = $k is fixture-sized (cells are the unit of " +
        "quadratic work — target ~1e6 vectors per cell, k ≈ " +
        "corpus_rows / 1e6). Pass fixtureScale = true to run a toy " +
        "corpus, or a corpus-proportional k for production.")

  def semDedup(emb: DataFrame, k: Int = 8, iters: Int = 3,
               tau: Double = 0.3, dim: Int = 64,
               fixtureScale: Boolean = false): DataFrame = {
    requireScaledK("semDedup", k, fixtureScale)
    graft.functions.FloatVecDot.register(emb.sparkSession)
    val asg = assignedWithNorm(emb, train(emb, k, iters, dim))
    asg.join(dupSet(asg, tau).withColumn("is_dup", lit(1L)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("is_dup").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** The composed embedding-curation pipeline (the SemDeDup paper's
    * flow end to end): cluster, drop near-duplicates within each
    * cluster, then draw a cluster-balanced sample from the SURVIVORS.
    * Output: the curated sample, each row carrying its cell, its
    * hash-rank among the cell's kept vectors, and the cell's kept
    * count — the numbers a curation report needs.
    */
  def embPipeline(emb: DataFrame, k: Int = 8, iters: Int = 3,
                  tau: Double = 0.3, nPer: Int = 10,
                  dim: Int = 64,
                  fixtureScale: Boolean = false): DataFrame = {
    requireScaledK("embPipeline", k, fixtureScale)
    graft.functions.FloatVecDot.register(emb.sparkSession)
    implicit val d: Dialect = SparkD
    import org.apache.spark.sql.expressions.Window
    val asg = assignedWithNorm(emb, train(emb, k, iters, dim))
    val kept = asg.join(dupSet(asg, tau), Seq("vec_id"), "left_anti")
      .withColumn("h", expr(hex8ToLong(toStr("vec_id"))))
    val counts = kept.groupBy("cell").agg(count(lit(1)).as("n_kept"))
    val w = Window.partitionBy("cell")
      .orderBy(col("h").asc, col("vec_id").asc)
    kept.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= nPer)
      .join(broadcast(counts), Seq("cell"))
      .select("vec_id", "cell", "rk", "n_kept")
  }

  /** DuckDB twin of [[embPipeline]]. */
  def embPipelineSql(k: Int = 8, iters: Int = 3, tau: Double = 0.3,
                     nPer: Int = 10, dim: Int = 64): String = {
    implicit val d: Dialect = DuckD
    val (ctes, fin) = kmeansCtes(k, iters, dim)
    val cos = s"${Similarity.dotSql("a.a_e", "b.b_e")} / (a.a_n * b.b_n)"
    s"""$ctes,
       |asg AS (
       |  SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell, e2.embedding,
       |         ${Similarity.normSql("e2.embedding")} AS nrm
       |  FROM $fin f JOIN embeddings e2 ON e2.vec_id = f.vec_id),
       |dup AS (
       |  SELECT DISTINCT b.b_id AS vec_id
       |  FROM (SELECT cell, vec_id AS a_id, embedding AS a_e, nrm AS a_n
       |        FROM asg) a
       |  JOIN (SELECT cell, vec_id AS b_id, embedding AS b_e, nrm AS b_n
       |        FROM asg) b
       |    ON a.cell = b.cell AND a.a_id < b.b_id
       |  WHERE round($cos, 6) > ${tau}e0),
       |kept AS (
       |  SELECT asg.vec_id, asg.cell,
       |         ${hex8ToLong(toStr("asg.vec_id"))} AS h
       |  FROM asg LEFT JOIN dup ON dup.vec_id = asg.vec_id
       |  WHERE dup.vec_id IS NULL),
       |counts AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY cell)
       |SELECT r.vec_id, r.cell, r.rk, c.n_kept FROM (
       |  SELECT vec_id, cell,
       |         CAST(row_number() OVER (PARTITION BY cell
       |           ORDER BY h ASC, vec_id ASC) AS BIGINT) AS rk
       |  FROM kept) r
       |JOIN counts c ON c.cell = r.cell
       |WHERE r.rk <= $nPer""".stripMargin
  }

  /** Cluster-balanced sampling: `nPer` vectors drawn from every
    * k-means cell by deterministic md5-hash rank (content-free
    * pseudo-randomness both engines share bit-for-bit) — the
    * rebalancing draw semantic-curation pipelines run after
    * clustering, so over- and under-represented topics contribute
    * equally to the curated set.
    *
    * Scale: the rank window partitions by cell; cluster count scales
    * with corpus size (the same contract as [[semDedup]]'s pair
    * stage), so per-cell partitions stay bounded.
    */
  def clusterSample(emb: DataFrame, k: Int = 8, iters: Int = 3,
                    nPer: Int = 20, dim: Int = 64,
                    fixtureScale: Boolean = false): DataFrame = {
    requireScaledK("clusterSample", k, fixtureScale)
    implicit val d: Dialect = SparkD
    import org.apache.spark.sql.expressions.Window
    val cents = train(emb, k, iters, dim)
    val asg = emb
      .select(col("vec_id"), MicroQuant(col("embedding")).as("qv"))
      .withColumn("cell", element_at(cellSort(cents), 1)
        .getField("cid").cast("bigint"))
      .withColumn("h", expr(hex8ToLong(toStr("vec_id"))))
    val w = Window.partitionBy("cell")
      .orderBy(col("h").asc, col("vec_id").asc)
    asg.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= nPer)
      .select("vec_id", "cell", "rk")
  }

  /** DuckDB twin of [[clusterSample]]. */
  def clusterSampleSql(k: Int = 8, iters: Int = 3, nPer: Int = 20,
                       dim: Int = 64): String = {
    implicit val d: Dialect = DuckD
    val (ctes, fin) = kmeansCtes(k, iters, dim)
    s"""$ctes,
       |hashed AS (
       |  SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       |         ${hex8ToLong(toStr("vec_id"))} AS h
       |  FROM $fin)
       |SELECT vec_id, cell, rk FROM (
       |  SELECT vec_id, cell,
       |         CAST(row_number() OVER (PARTITION BY cell
       |           ORDER BY h ASC, vec_id ASC) AS BIGINT) AS rk
       |  FROM hashed)
       |WHERE rk <= $nPer""".stripMargin
  }

  /** Shared CTE chain for the oracle twins: quantisation, seed
    * centroids, `iters` assignment+update rounds and one final
    * labelling assignment (`a{iters+1}`), mirroring
    * [[kmeansAssign]]'s `iters`×lloydStep + final pass.
    */
  private[graft] def kmeansCtes(k: Int, iters: Int, dim: Int,
                                prefix: String = "", withE: Boolean = true,
                                trainSrc: String = "e",
                                assignSrc: String = "e",
                                seedRank: Boolean = false)
                               (implicit d: Dialect): (String, String) = {
    def score(cv: String) =
      s"round((${listFoldSumDouble(listTransformIdx("e.qv",
        (x, i) => s"$x * ${elem(cv, i)}"))}" +
        s" - ${listFoldSumDouble(listTransform(cv, x => s"$x * $x"))}" +
        s" / 2.0e0) / 1.0e12, 6)"
    val p = prefix
    val ctes = new StringBuilder
    if (withE) ctes ++= s"""WITH e AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS qv FROM embeddings),
       |""".stripMargin
    // seed rule: `vec_id < k` for the raw-corpus twins (vec_ids are
    // dense from 0); `seedRank` seeds the k SMALLEST vec_ids instead —
    // required when trainSrc is a derived pool (e.g. one hot cell's
    // members) whose vec_ids are arbitrary
    if (seedRank)
      ctes ++= s"""${p}c0 AS (
         |  SELECT CAST(rn - 1 AS INT) AS cid, qv AS cv FROM (
         |    SELECT qv, row_number() OVER (ORDER BY vec_id) AS rn
         |    FROM $trainSrc)
         |  WHERE rn <= $k)""".stripMargin
    else
      ctes ++= s"""${p}c0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM $trainSrc
         |  WHERE vec_id < $k)""".stripMargin
    // assignments a1..a{iters+1}; centroid updates after the first
    // `iters` of them — so the output is the extra assignment against
    // the fully-trained centroid set, mirroring kmeansAssign's
    // `iters`×lloydStep + final labelling pass. Training rounds read
    // `trainSrc`; the final labelling pass reads `assignSrc` — they
    // differ only in the staleness twin, where the model trains on
    // the old corpus but the whole grown corpus is labelled.
    for (i <- 1 to iters + 1) {
      val src = if (i <= iters) trainSrc else assignSrc
      ctes ++= s""",
       |${p}s$i AS (
       |  SELECT e.vec_id, e.qv, c.cid, ${score("c.cv")} AS score
       |  FROM $src e CROSS JOIN ${p}c${i - 1} c),
       |${p}a$i AS (
       |  SELECT vec_id, qv, cid AS cell, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cid) AS rn FROM ${p}s$i)
       |  WHERE rn = 1)""".stripMargin
      if (i <= iters) {
        val sums = (0 until dim).map(j =>
          s"SUM(qv[${j + 1}]) AS s$j").mkString(", ")
        val upd = (0 until dim).map(j => s"m.s$j / m.n").mkString(", ")
        ctes ++= s""",
         |${p}m$i AS (
         |  SELECT cell, COUNT(*) AS n, $sums FROM ${p}a$i GROUP BY cell),
         |${p}c$i AS (
         |  SELECT c.cid,
         |         CASE WHEN m.n IS NULL THEN c.cv ELSE [$upd] END AS cv
         |  FROM ${p}c${i - 1} c LEFT JOIN ${p}m$i m
         |    ON m.cell = c.cid)""".stripMargin
      }
    }
    (ctes.toString, s"${p}a${iters + 1}")
  }

  /** DuckDB oracle twin of [[kmeansAssign]]: the SAME quantisation,
    * seeds, per-iteration assignment ranking and exact integer-sum
    * centroid updates, unrolled as one CTE chain (`iters` is a fixed
    * small constant, so unrolling is bounded). Kept in the operator's
    * own file so the Spark code and its oracle evolve together.
    */
  def kmeansSql(k: Int = 8, iters: Int = 3, dim: Int = 64): String = {
    implicit val d: Dialect = DuckD
    val (ctes, fin) = kmeansCtes(k, iters, dim)
    s"""$ctes
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell, score AS score_r
       |FROM $fin""".stripMargin
  }

  /** DuckDB oracle twin of [[semDedup]]: the k-means chain, then the
    * same existential lower-id pair rule over raw-float cosines.
    */
  def semdedupSql(k: Int = 8, iters: Int = 3, tau: Double = 0.3,
                  dim: Int = 64): String = {
    implicit val d: Dialect = DuckD
    val (ctes, fin) = kmeansCtes(k, iters, dim)
    val cos = s"${Similarity.dotSql("a.a_e", "b.b_e")} / (a.a_n * b.b_n)"
    s"""$ctes,
       |asg AS (
       |  SELECT f.vec_id, f.cell, e2.embedding,
       |         ${Similarity.normSql("e2.embedding")} AS nrm
       |  FROM $fin f JOIN embeddings e2 ON e2.vec_id = f.vec_id),
       |dup AS (
       |  SELECT DISTINCT b.b_id AS vec_id
       |  FROM (SELECT cell, vec_id AS a_id, embedding AS a_e, nrm AS a_n
       |        FROM asg) a
       |  JOIN (SELECT cell, vec_id AS b_id, embedding AS b_e, nrm AS b_n
       |        FROM asg) b
       |    ON a.cell = b.cell AND a.a_id < b.b_id
       |  WHERE round($cos, 6) > ${tau}e0)
       |SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
       |       CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END
       |            AS BIGINT) AS kept
       |FROM asg LEFT JOIN dup ON dup.vec_id = asg.vec_id""".stripMargin
  }
}
