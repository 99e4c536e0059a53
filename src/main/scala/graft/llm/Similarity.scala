package graft.llm

import scala.reflect.ClassTag

import graft.llm.TextExprs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column
  * (`Array[Float]`, unit-normalised in the testdata).
  *
  *  - [[bruteForceTopK]] — the exactness baseline: broadcast the query
  *    set, one scan of the corpus computing cosines, per-query top-k via
  *    a window. At 100 TB the corpus scan parallelises perfectly; the
  *    shuffle is only (n_queries x corpus_partitions) candidate rows when
  *    per-partition pre-ranking is enabled.
  *  - [[lshTopK]] — the scale path: sign-random-projection bucketing with
  *    deterministic integer hyperplanes; candidates restricted to the
  *    query's bucket, so the pair join is keyed on bucket id and never
  *    goes quadratic.
  *  - the IVF-PQ path — one [[IvfPqModel]] (seeded float, Lloyd-trained
  *    micro-unit, or residual-encoded), one [[ivfPqIndex]], one
  *    [[ivfPqSearch]] and one exact-rerank tail [[ivfPqRerankSearch]]
  *    serve every ANN gate, the maintenance reports and the streaming
  *    twin.
  *
  * Cosines are computed with a sequential left fold (bit-identical in the
  * DuckDB oracle), elements widened float→double before any arithmetic.
  */
object Similarity {

  /** Sequential dot product between two array<float> columns.
    * Spark side: the codegen'd [[graft.functions.FloatVecDot]] (register
    * per session); DuckDB side: the equivalent sequential left fold.
    * Both accumulate double from 0.0 in element order — bit-identical.
    */
  def dotSql(a: String, b: String)(implicit d: Dialect): String = d match {
    case SparkD => s"float_dot($a, $b)"
    case DuckD => listFoldSumDouble(listTransformIdx(a, (x, i) =>
      s"CAST($x AS DOUBLE) * CAST(${elem(b, i)} AS DOUBLE)"))
  }

  /** Euclidean norm of an array<float> column (= sqrt of self-dot, same
    * element order as the fold of squares).
    */
  def normSql(v: String)(implicit d: Dialect): String = d match {
    case SparkD => s"sqrt(float_dot($v, $v))"
    case DuckD => s"sqrt(${listFoldSumDouble(listTransform(v,
      x => s"CAST($x AS DOUBLE) * CAST($x AS DOUBLE)"))})"
  }

  /** Cosine from a per-pair dot and PRE-COMPUTED norms: list lambdas are
    * interpreted (not codegen'd), so hoisting the two norm folds from the
    * O(pairs) join to the O(rows) scan is a 3x on the pair stage.
    */
  def cosineSql(a: String, b: String)(implicit d: Dialect): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  def cosineExpr(a: String, b: String): Column =
    expr(cosineSql(a, b)(SparkD))

  /** Number of sign-projection hyperplanes (bucket bits). */
  val NumPlanes = 8

  /** Widest plane count any derived-plane operator can select
    * ([[derivedModulusSql]] clamps here): 2^24 cells covers a
    * targetCell·2^24 ≈ 2-billion-vector corpus at the default cell
    * size before the cap binds — a compile-time constant to raise for
    * larger deployments. Kept well under 63 so the bucket id stays a
    * plain BIGINT bit-sum on both engines.
    */
  val MaxPlanes = 24

  /** Deterministic integer hyperplane component for plane j, 0-based
    * dim d: ((j*64 + d) * 37 mod 19) - 9, in [-9, 9].
    */
  def planeComponent(j: Int, dExpr: String): String =
    s"((($j * 64 + $dExpr) * 37) % 19 - 9)"

  /** Bucket id: bit j set iff dot(plane_j, v) > 0. */
  def bucketSql(v: String)(implicit d: Dialect): String =
    bucketSqlTable(v, 0)

  /** Bucket id for hash TABLE `t` — the standard multi-table
    * random-hyperplane LSH: table t uses planes
    * j = t·NumPlanes .. t·NumPlanes + NumPlanes − 1 (the same
    * deterministic plane family, disjoint slices), so each table is an
    * independent 2^NumPlanes-bucket partition of the sphere and a
    * near neighbour missed by one table's cut gets more chances in
    * the others. Table 0 IS [[bucketSql]] — the single-table gates
    * (q_sim2, q_d5) are the L = 1 special case.
    */
  def bucketSqlTable(v: String, t: Int)(implicit d: Dialect): String = {
    val bits = (0 until NumPlanes).map { b =>
      val j = t * NumPlanes + b
      val dot = listFoldSumDouble(listTransformIdx(v, (x, i) =>
        s"CAST($x AS DOUBLE) * ${planeComponent(j, s"($i - 1)")}"))
      s"(CASE WHEN $dot > 0 THEN ${1 << b} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  def bucketExpr(v: String): Column = expr(bucketSql(v)(SparkD))

  /** Hyperplane component for the WIDE plane family used by
    * [[bucketSqlPlanes]]: a multiplicative (Knuth) hash of
    * (plane, dim) reduced to [-9, 9]. [[planeComponent]]'s mod-19
    * family yields only 19 DISTINCT planes (documented at
    * [[lshMultiTopK]]) — fine for the fixed-8-plane gates, fatal for
    * a derived plane count that must keep adding INDEPENDENT bits as
    * the corpus grows (planes 19+ would duplicate planes 0+, and even
    * below 19 the shifted-copy correlation concentrates occupancy).
    * The multiplicative hash is SQUARED mod the prime before the
    * mod-19 reduction: a purely linear hash leaves consecutive dims
    * an arithmetic progression mod 19 (the same periodicity disease,
    * measured mean pairwise plane |cos| 0.31), while the quadratic
    * residue step decorrelates them (mean |cos| 0.09, bucket
    * occupancy within ~2x of Poisson at 12 planes). All-integer (max
    * intermediate < 10^12, exact BIGINT on both engines), so Spark
    * and the DuckDB twin tie bit-for-bit.
    */
  def planeComponentWide(j: Int, dExpr: String): String = {
    val h = s"((($j * 64 + $dExpr) * 2654435761) % 1000003)"
    s"($h * $h % 1000003 % 19 - 9)"
  }

  /** FULL-WIDTH bucket id over the first `nPlanes` planes of the WIDE
    * family ([[planeComponentWide]]), bit b with weight 2^b — so for
    * any p ≤ nPlanes the p-plane bucket is exactly `bucket % 2^p`
    * (the low p bits). This is what lets an operator compute ONE
    * row-local [[MaxPlanes]]-bit bucket and choose the effective
    * plane count from the corpus size in-plan
    * ([[derivedModulusSql]]) without changing the SQL shape.
    */
  def bucketSqlPlanes(v: String, nPlanes: Int)
                     (implicit d: Dialect): String = {
    require(nPlanes >= 1 && nPlanes <= MaxPlanes,
      s"nPlanes must be in [1, $MaxPlanes], got $nPlanes")
    val bits = (0 until nPlanes).map { b =>
      val dot = listFoldSumDouble(listTransformIdx(v, (x, i) =>
        s"CAST($x AS DOUBLE) * ${planeComponentWide(b, s"($i - 1)")}"))
      s"(CASE WHEN $dot > 0 THEN ${1L << b} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  /** The derived-plane MODULUS: 2^p for the smallest p in
    * [[[NumPlanes]], [[MaxPlanes]]] with n ≤ targetCell·2^p — i.e.
    * expected cell size stays ≤ `targetCell` as the corpus grows, so a
    * same-bucket pair join is Θ(n·targetCell), LINEAR in n, instead of
    * Θ(n²/2^NumPlanes) under a fixed plane count. Pure integer CASE
    * chain (all products precomputed as BIGINT literals), so Spark and
    * DuckDB tie bit-for-bit — the same lockstep trick as
    * [[graft.llm.Dedup.DerivedCap]]. `nExpr` must be a BIGINT corpus
    * count in scope (a 1-row broadcast on the Spark side, a scalar
    * subquery in the twin).
    */
  def derivedModulusSql(nExpr: String, targetCell: Int): String = {
    require(targetCell >= 1, s"targetCell must be >= 1, got $targetCell")
    val whens = (NumPlanes until MaxPlanes).map { p =>
      s"WHEN $nExpr <= ${targetCell.toLong * (1L << p)} THEN ${1L << p}"
    }.mkString(" ")
    s"(CASE $whens ELSE ${1L << MaxPlanes} END)"
  }


  /** Per-query top-k of a scored `(qid, vec_id, <score>)` frame: rank
    * by (score desc, vec_id asc) within each qid — the tie-break every
    * ANN path and its DuckDB twin share — keep ranks ≤ k and emit
    * `lead ++ (rank, vec_id, score)`.
    */
  private def topK(scored: DataFrame, score: String, k: Int,
                   lead: Seq[String] = Seq("qid")): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col(score).desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select((lead ++ Seq("rank", "vec_id", score)).map(col): _*)
  }

  /** Exact top-k neighbours for each query vector (queries = `vec_id <
    * nQueries`), self excluded. Rank determinism: round(cos, 6) desc then
    * vec_id asc.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    graft.functions.FloatVecDot.register(emb.sparkSession)
    val withNorm = emb.withColumn("nrm", expr(normSql("embedding")(SparkD)))
    val q = broadcast(withNorm.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")))
    topK(q.join(withNorm, col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(expr(dotSql("qe", "embedding")(SparkD))
        / (col("qn") * col("nrm")), 6)), "cos_sim", k)
  }

  /** The first `n` vectors of `frame` as `(cid, vector)` seeds, cid
    * order — the deterministic seed rule every quantiser here (and its
    * DuckDB twin) starts from.
    */
  private def seedRows[T: ClassTag](frame: DataFrame, vcol: String,
                                    n: Int): Array[(Int, Array[T])] =
    frame.where(col("vec_id") < n)
      .select(col("vec_id").cast("int"), col(vcol))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[T](1).toArray))
      .sortBy(_._1)

  private def widen(cs: Array[(Int, Array[Float])])
      : Array[(Int, Array[Double])] =
    cs.map { case (cid, v) => (cid, v.map(_.toDouble)) }

  /** Element 1 of a ranked (ns, cid) array: the nearest cell / code. */
  private def winner(ranked: Column): Column =
    element_at(ranked, 1).getField("cid")

  /** IVF-style ANN: a deterministic coarse quantiser (first
    * `nCentroids` vectors stand in for trained k-means centroids; the
    * plan shape is identical with real centroids), corpus vectors
    * assigned to their nearest cell by max(dot − ‖c‖²/2), queries probe
    * their `nProbe` nearest cells, ranking only within probed cells.
    *
    * Scale: the centroid table is MODEL-sized (a trained k-means output
    * in production), so it travels to executors as literals — the per-row
    * cell assignment is one fused codegen'd argmax
    * ([[graft.functions.CellTopK]]) with ZERO exchanges. The search join
    * is keyed on cell id with the tiny probe side broadcast — candidates
    * per query are corpus/nCells·nProbe.
    */
  def ivfTopK(emb: DataFrame, nCentroids: Int = 16, nProbe: Int = 2,
              nQueries: Int = 8, k: Int = 5,
              fixtureScale: Boolean = false): DataFrame = {
    // nCentroids = 16 is FIXTURE-sized (see Clustering.requireScaledK):
    // cells are the recall/cost unit — production targets ~1e6 vectors
    // per cell (nCentroids ≈ corpus_rows / 1e6), and nProbe trades
    // recall for probed-candidate volume at that granularity
    Clustering.requireScaledK("ivfTopK", nCentroids, fixtureScale)
    ivfTopKWith(emb, seedRows[Float](emb, "embedding", nCentroids),
      nProbe, nQueries, k)
  }

  /** Per-row top-`nTop` cell ranking over a literal float centroid set,
    * (score desc, cid asc) — one fused codegen'd expression
    * ([[graft.functions.CellTopK]]), zero exchanges.
    */
  private def cellRankExpr(cents: Array[(Int, Array[Float])],
                           vecCol: Column = col("embedding"),
                           nTop: Int = 1): Column =
    graft.functions.CellTopK.rankF(vecCol, cents, nTop)

  /** One Lloyd step: assign every vector to its nearest centroid (the
    * zero-shuffle literal argmax) and recompute centroids as per-cell
    * means — ONE hash aggregate with 64 partial-mean columns, the
    * textbook distributed k-means iteration. Empty cells keep their
    * old centroid. Returns the trained centroid set for [[ivfTopKWith]].
    *
    * Scale: each iteration is one corpus scan + one shuffle carrying
    * k×dim partial sums per map task; the centroid set itself stays
    * driver-side model state (exactly how the IVF index of a vector
    * store is trained).
    */
  def trainIvfCentroids(emb: DataFrame, k: Int = 16, iters: Int = 4,
                        dim: Int = 64): Array[(Int, Array[Float])] = {
    graft.functions.FloatVecDot.register(emb.sparkSession)
    var cents = seedRows[Float](emb, "embedding", k)
    // the per-dimension mean columns index element_at(embedding, i+1):
    // a shorter vector yields nulls that either throw on getDouble or
    // silently poison a cell mean — fail fast on the seed set instead
    require(cents.nonEmpty, "trainIvfCentroids: empty seed centroid set")
    cents.find(_._2.length != dim).foreach { case (cid, v) =>
      throw new IllegalArgumentException(
        s"trainIvfCentroids: dim=$dim but seed vector $cid has " +
          s"${v.length} elements — pass dim matching the embedding " +
          "column")
    }
    val aggs = (0 until dim).map(i =>
      avg(element_at(col("embedding"), i + 1).cast("double")).as(s"c$i"))
    for (_ <- 0 until iters) {
      val means = emb
        .withColumn("cell", winner(cellRankExpr(cents)))
        .groupBy("cell").agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) ->
          Array.tabulate(dim)(i => r.getDouble(i + 1).toFloat))
        .toMap
      cents = cents.map { case (cid, old) =>
        (cid, means.getOrElse(cid, old))
      }
    }
    cents
  }

  /** IVF search against an explicit (trained) centroid set. */
  def ivfTopKWith(emb: DataFrame, cents: Array[(Int, Array[Float])],
                  nProbe: Int = 2, nQueries: Int = 8,
                  k: Int = 5): DataFrame = {
    graft.functions.FloatVecDot.register(emb.sparkSession)
    val assigned = emb
      .withColumn("cell", winner(cellRankExpr(cents)))
      .withColumn("nrm", expr(normSql("embedding")(SparkD)))
      .select("vec_id", "embedding", "cell", "nrm")
    val probes = broadcast(emb.where(col("vec_id") < nQueries)
      .withColumn("cell",
        explode(cellRankExpr(cents, nTop = nProbe).getField("cid")))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cell"))
      .withColumn("qn", expr(normSql("qe")(SparkD))))
    topK(probes.join(assigned, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(expr(dotSql("qe", "embedding")(SparkD))
        / (col("qn") * col("nrm")), 6)), "cos_sim", k)
  }

  // ---- PQ and IVF-PQ: one model, one index, one search, one rerank --

  /** Product-quantisation ANN (PQ + asymmetric-distance scoring),
    * q_sim4: the embedding is split into `m` subvectors; each subspace
    * has a 16-codeword codebook (deterministically the first `nCodes`
    * vectors' subvectors — [[trainPqCodebooks]] is the k-means twin);
    * a vector is stored as `m` 1-byte codes; a query scores a candidate
    * by summing per-subspace dots against the CODEWORDS its codes name,
    * never touching the original vector.
    *
    * Scale story: at dim 64 the raw embedding is 256 B, the PQ code is
    * 8 B — the 32× compression is what lets a 100 TB corpus's index
    * live in cluster memory. Encoding is a zero-shuffle literal argmax
    * per subspace (same shape as the IVF assignment); scoring joins a
    * broadcast query table against the codes and reads codeword dots
    * from literal tables.
    *
    * Parity: per-subspace argmin(L2) is computed as argmax(dot − ‖c‖²/2)
    * rounded to 6 dp with cid tie-break; the DuckDB twin re-derives the
    * codebooks from the same `vec_id < nCodes` rule, so the oracle is
    * fully independent.
    */
  def pqTopK(emb: DataFrame, nCodes: Int = 16, m: Int = 8,
             nQueries: Int = 8, k: Int = 5,
             dim: Int = 64): DataFrame =
    pqTopKWith(emb, pqCodebooks(emb, nCodes, m, dim), nQueries, k)

  /** PQ/ADC scan against an explicit float codebook set (seed-derived
    * via the gate rule, or trained via [[trainPqCodebooks]]) — the same
    * split as [[ivfTopK]]/[[ivfTopKWith]].
    */
  def pqTopKWith(emb: DataFrame,
                 codebooks: Array[Array[(Int, Array[Float])]],
                 nQueries: Int = 8, k: Int = 5): DataFrame =
    adcScan(emb, IvfPqModel(Array.empty, codebooks.map(widen),
      micro = false), nQueries, k)

  /** PQ codebooks: codebooks(s) = the `nCodes` codewords of subspace
    * s, deterministically the first `nCodes` vectors' subvectors.
    * Shared by [[pqTopK]] and [[IvfPqModel.seed]].
    */
  private def pqCodebooks(emb: DataFrame, nCodes: Int, m: Int,
                          dim: Int): Array[Array[(Int, Array[Float])]] =
    seedBooks(seedRows[Float](emb, "embedding", nCodes), nCodes, m, dim,
      "pqCodebooks")

  /** Split seed vectors into per-subspace codebooks. Codes are looked
    * up by ARRAY POSITION (`element_at(books, code + 1)`) while the
    * ranking emits seed cids — only sound when the seed set is exactly
    * 0..nCodes-1, so anything else fails fast instead of silently
    * scoring against the wrong codeword.
    */
  private def seedBooks[T: ClassTag](seeds: Array[(Int, Array[T])],
                                     nCodes: Int, m: Int, dim: Int,
                                     op: String)
      : Array[Array[(Int, Array[T])]] = {
    val subDim = dim / m
    require(subDim * m == dim, s"dim $dim not divisible by m $m")
    require(seeds.map(_._1).toSeq == (0 until nCodes),
      s"$op: seed vec_ids must be exactly 0..${nCodes - 1}, got " +
        seeds.map(_._1).mkString(","))
    seeds.foreach { case (cid, v) =>
      require(v.length == dim, s"$op: dim=$dim but vector $cid has " +
        s"${v.length}")
    }
    Array.tabulate(m)(s => seeds.map { case (cid, v) =>
      (cid, v.slice(s * subDim, (s + 1) * subDim))
    })
  }

  /** Per-subspace k-means (Lloyd) training of the float PQ codebooks,
    * seeded from the deterministic gate rule, mirroring
    * [[trainIvfCentroids]] for the coarse quantiser. Each iteration is
    * ONE corpus scan: the per-subspace code is the zero-shuffle literal
    * argmax, the m subvectors are unpivoted with a row-local explode,
    * and the new codewords come from a single (s, code) hash aggregate
    * whose partials combine map-side. Empty codes keep their old
    * codeword.
    */
  def trainPqCodebooks(emb: DataFrame, nCodes: Int = 16, m: Int = 8,
                       iters: Int = 2, dim: Int = 64)
      : Array[Array[(Int, Array[Float])]] = {
    graft.functions.FloatVecDot.register(emb.sparkSession)
    val subDim = dim / m
    var books = pqCodebooks(emb, nCodes, m, dim)
    for (_ <- 0 until iters) {
      val stacked = emb.select(explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          winner(graft.functions.CellTopK.rankF(col("embedding"),
            books(s), nTop = 1, offset = s * subDim)).as("code"),
          slice(col("embedding"), s * subDim + 1, subDim).as("sv"))
      ): _*)).as("x"))
        .select(col("x.s"), col("x.code"), col("x.sv"))
      val aggs = (0 until subDim).map(i =>
        avg(element_at(col("sv"), i + 1).cast("double")).as(s"d$i"))
      val means = stacked.groupBy("s", "code")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          Array.tabulate(subDim)(i => r.getDouble(i + 2).toFloat)))
        .toMap
      books = Array.tabulate(m)(s => books(s).map { case (cid, old) =>
        (cid, means.getOrElse((s, cid), old))
      })
    }
    books
  }

  /** Micro-unit rescale of the trained grid: dot products of
    * micro-unit vectors divide by 1e12 back to cosine units.
    */
  private val MicroScale = 1.0e12

  /** The micro-unit projection `(vec_id, qv)` every trained model reads. */
  private def quantised(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.MicroQuant(col("embedding")).as("qv"))

  /** The model state of an IVF-PQ index: coarse centroids, per-subspace
    * codebooks and, for residual encoding, the centroids snapped to the
    * integer micro grid (`centsQ`). Bounded, driver-resident and baked
    * into plans as literals — the artifact a vector store persists
    * after training. m and subDim come from the books.
    *
    * The model hides its two arithmetic grids behind cell rank,
    * subspace codes and ADC score:
    *  - float (`micro = false`, [[IvfPqModel.seed]]): vectors are the
    *    raw `embedding`; cells and codes rank by round(dot − ‖c‖²/2, 6)
    *    over the exactly-widened float codewords; the score is
    *    round(Σ_s float_dot(q_s, codeword_s), 6);
    *  - micro (`micro = true`, [[IvfPqModel.train]],
    *    [[IvfPqModel.residual]]): vectors are the micro-unit `qv`
    *    (integers held in doubles, so Lloyd sums are exact under any
    *    partitioning and the DuckDB twin re-derives the training
    *    bit-for-bit); ranks and the fused [[graft.functions.AdcScore]]
    *    divide by 1e12. With `centsQ` the codes quantise the residual
    *    x − centsQ(cell(x)) and the score's fold starts from the
    *    query·snapped-centroid dot — the canonical IVF-ADC of Jégou,
    *    Douze & Schmid (TPAMI 2011).
    *
    * Empty `cents` is a PQ-only model, served by the un-pruned scan
    * (q_sim4, q_sim11) alone.
    */
  final case class IvfPqModel(
      cents: Array[(Int, Array[Double])],
      books: Array[Array[(Int, Array[Double])]],
      micro: Boolean,
      centsQ: Option[Array[(Int, Array[Double])]] = None) {
    require(micro || centsQ.isEmpty,
      "residual encoding needs the integer micro grid")
    val m: Int = books.length
    val subDim: Int = books.head.head._2.length
    def dim: Int = m * subDim

    private[llm] def vcol: String = if (micro) "qv" else "embedding"

    /** `(vec_id, <vector>)` on the model's grid. */
    def vectors(emb: DataFrame): DataFrame =
      if (micro) quantised(emb) else emb

    /** The query frame `(qid, qe)`: the first `nQueries` vectors on the
      * model's grid (raw embeddings — asymmetric distance).
      */
    def queries(emb: DataFrame, nQueries: Int): DataFrame =
      vectors(emb).where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col(vcol).as("qe"))

    private def rank(cs: Array[(Int, Array[Double])], v: Column,
                     nTop: Int, offset: Int = 0): Column =
      graft.functions.CellTopK.rank(v, cs,
        if (micro) MicroScale else 1.0, floatInput = !micro, nTop, offset)

    /** Ranked (ns, cid) array of the `nTop` nearest cells. */
    private[llm] def cellRank(v: Column, nTop: Int): Column =
      rank(cents, v, nTop)

    /** The m subspace code columns `c0..c{m-1}` of vector `v`. */
    private[llm] def codes(v: Column): Seq[Column] =
      (0 until m).map(s =>
        winner(rank(books(s), v, 1, s * subDim)).as(s"c$s"))

    /** ADC score of query `qe` against the candidate's `c0..c{m-1}`
      * codes (and, residual-encoded, its `cell`), rounded to 6 dp in
      * cosine units.
      */
    private[graft] def score(qe: Column): Column = {
      val codeCols = (0 until m).map(s => col(s"c$s"))
      if (!micro) {
        // codeword lookup per subspace as a literal nested array: the
        // score never touches the candidate's embedding
        round((0 until m).map { s =>
          call_function("float_dot", slice(qe, s * subDim + 1, subDim),
            element_at(typedLit(books(s).map(_._2.map(_.toFloat).toSeq)
              .toSeq), codeCols(s) + 1))
        }.reduce(_ + _), 6)
      } else centsQ match {
        case Some(cq) => graft.functions.AdcScore.scoreWithCell(qe,
          col("cell"), codeCols, books, cq, subDim, MicroScale)
        case None => graft.functions.AdcScore.score(qe, codeCols, books,
          subDim, MicroScale)
      }
    }

    private[llm] def dot(a: Column, b: Column): Column =
      call_function(if (micro) "double_dot" else "float_dot", a, b)

    private[llm] def register(s: SparkSession): Unit =
      if (micro) graft.functions.DoubleVecDot.register(s)
      else graft.functions.FloatVecDot.register(s)

    /** This model, after checking a caller's `dim` against it. */
    private[llm] def withDim(d: Int): IvfPqModel = {
      require(d == dim, s"dim $d does not match the model's $dim")
      this
    }
  }

  object IvfPqModel {
    /** Float model from the deterministic gate rules: the first
      * `nCentroids` vectors are the centroids, the first `nCodes`
      * vectors' subvectors the codebooks.
      */
    def seed(emb: DataFrame, nCentroids: Int = 16, nCodes: Int = 16,
             m: Int = 8, dim: Int = 64): IvfPqModel =
      IvfPqModel(widen(seedRows[Float](emb, "embedding", nCentroids)),
        pqCodebooks(emb, nCodes, m, dim).map(widen), micro = false)

    /** Micro model with both quantisers trained: exact micro-unit
      * k-means centroids ([[Clustering.trainQ]]) and exact Lloyd PQ
      * codebooks ([[pqTrainedCodebooks]]). The two trainings are
      * INDEPENDENT, so they run concurrently ([[inParallel]]) over ONE
      * shared lazily-checkpointed quantised frame — plan-private (never
      * the session CacheManager), materialised once, its blocks
      * reclaimed by the ContextCleaner when the frame becomes
      * unreachable on return. Identical models to the sequential form.
      */
    def train(emb: DataFrame, nCentroids: Int = 16, nCodes: Int = 16,
              m: Int = 8, iters: Int = 2, dim: Int = 64): IvfPqModel = {
      graft.functions.DoubleVecDot.register(emb.sparkSession)
      val embq = quantised(emb).localCheckpoint(eager = false)
      val (cents, books) = inParallel(
        Clustering.trainQ(embq, nCentroids, iters, dim),
        pqTrainedCodebooksQ(embq, nCodes, m, iters, dim))
      IvfPqModel(cents, books, micro = true)
    }

    /** Residual-encoded micro model: k-means centroids, then residual
      * codebooks trained against them ([[residualOn]]).
      */
    def residual(emb: DataFrame, nCentroids: Int = 16, nCodes: Int = 16,
                 m: Int = 8, iters: Int = 2, dim: Int = 64): IvfPqModel =
      residualOn(Clustering.train(emb, nCentroids, iters, dim), emb,
        nCodes, m, iters, dim)

    /** Residual codebooks trained on `emb` against an EXISTING coarse
      * quantiser (the q_sim8 matrix shares its trained centroids; the
      * maintenance reports retrain books against repaired cells).
      *
      * Hash-gate exactness: residuals must stay on the integer micro
      * grid or the Lloyd sums become partition-order dependent. The
      * trained centroid components are exact rationals S/n, so the
      * residual is taken against the centroid snapped with SQL-round
      * semantics ([[qround]]); the ≤0.5-micro-unit snap error is orders
      * below the PQ quantisation error. Cell ASSIGNMENT and probing
      * still use the full-precision centroids.
      */
    def residualOn(cents: Array[(Int, Array[Double])], emb: DataFrame,
                   nCodes: Int = 16, m: Int = 8, iters: Int = 2,
                   dim: Int = 64): IvfPqModel = {
      graft.functions.DoubleVecDot.register(emb.sparkSession)
      // residuals index the snapped-centroid literal by cell id
      require(cents.map(_._1).toSeq == (0 until cents.length),
        "IvfPqModel.residualOn: centroid cids must be exactly " +
          s"0..${cents.length - 1}, got " + cents.map(_._1).mkString(","))
      val centsQ = cents.map { case (cid, v) => (cid, v.map(qround)) }
      // cached for the bounded training loop, unpersisted before return
      // (CacheManager-free for the caller, Clustering.train's pattern)
      val resid = residualFrame(quantised(emb), cents, centsQ)
        .select("vec_id", "rv").cache()
      try {
        val books0 = seedBooks(seedRows[Double](resid, "rv", nCodes),
          nCodes, m, dim, "IvfPqModel.residualOn")
        IvfPqModel(cents, lloydSubspaceBooks(resid, "rv", books0, iters),
          micro = true, Some(centsQ))
      } finally resid.unpersist(false)
    }
  }

  /** (vec_id, qv, cell, rv): trained-cell assignment (full-precision
    * literal argmax) + exact integer residual vs the snapped centroid.
    * Pure projection — zero exchanges.
    */
  private def residualFrame(embq: DataFrame,
                            cents: Array[(Int, Array[Double])],
                            centsQ: Array[(Int, Array[Double])])
      : DataFrame = {
    val cqLit = typedLit(centsQ.map(_._2.toSeq).toSeq)
    assign(embq, cents)
      .withColumn("rv", zip_with(col("qv"),
        element_at(cqLit, col("cell") + 1), (a, b) => a - b))
  }

  /** `embq` with each micro vector's nearest cell of `cents`. */
  private def assign(embq: DataFrame,
                     cents: Array[(Int, Array[Double])]): DataFrame =
    embq.withColumn("cell", winner(
      graft.functions.CellTopK.rankD(col("qv"), cents, MicroScale, 1)))

  /** The corpus-resident IVF-PQ index frame `(vec_id, cell,
    * c0..c{m-1})` for any model — ONE zero-shuffle projection; the raw
    * embedding never leaves the scan, and the row-local encode makes
    * an incremental build (old ∪ new arrivals) EXACTLY the from-scratch
    * encode. Persist it partitioned by `cell`
    * (`write.partitionBy("cell")`) and [[ivfPqSearch]]'s static
    * probe-cell filter becomes a partition-pruned read.
    */
  def ivfPqIndex(emb: DataFrame, model: IvfPqModel): DataFrame = {
    model.register(emb.sparkSession)
    val v = col(model.vcol)
    model.centsQ match {
      case None => model.vectors(emb).select(col("vec_id") +:
        winner(model.cellRank(v, 1)).as("cell") +: model.codes(v): _*)
      case Some(cq) =>
        residualFrame(model.vectors(emb), model.cents, cq)
          .select(col("vec_id") +: col("cell") +: model.codes(col("rv")): _*)
    }
  }

  /** ADC search over a prebuilt [[ivfPqIndex]] frame: the probe
    * broadcast (each query's `nProbe` nearest cells), the cell-keyed
    * candidate join, self-exclusion, the model's ADC score and the
    * per-query top-k. `queries` is a model-sized `(qid, qe)` frame on
    * the model's grid ([[IvfPqModel.queries]]).
    *
    * With `staticPrune` the probed cell ids (≤ nQueries·nProbe values,
    * bounded) are collected and pushed as an IN filter on the index
    * side — over a cell-partitioned index that is a PartitionFilter,
    * i.e. the serving path reads ONLY the probed cells' files (AnnProbe
    * measures this; at 100 TB it is the difference between scanning the
    * corpus and scanning nProbe/nCells of it).
    */
  def ivfPqSearch(index: DataFrame, queries: DataFrame,
                  model: IvfPqModel, nProbe: Int = 2, k: Int = 5,
                  staticPrune: Boolean = false): DataFrame = {
    model.register(index.sparkSession)
    val probes = broadcast(queries
      .withColumn("cell",
        explode(model.cellRank(col("qe"), nProbe).getField("cid")))
      .select(col("qid"), col("qe"), col("cell")))
    val pruned =
      if (!staticPrune) index
      else {
        val cells = probes.select("cell").distinct().collect()
          .map(_.getInt(0))
        index.where(col("cell").isin(cells.toIndexedSeq: _*))
      }
    // each vector lives in exactly one cell and a query's probed cells
    // are distinct, so (qid, vec_id) pairs are unique — no dedup stage
    topK(probes.join(pruned, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("pq_score", model.score(col("qe"))),
      "pq_score", k)
  }

  /** Production ANN's last stage: ADC top-`r` candidates
    * ([[ivfPqSearch]]), re-ranked by EXACT cosine. The exact pass
    * broadcast-joins the r·nQueries candidate ids back to `corpus` (the
    * model's [[IvfPqModel.vectors]] frame) by vec_id — every post-join
    * frame is candidate-sized — then one exact dot per candidate and
    * the per-query top-k. Any ground-truth neighbour that reaches the
    * candidate set is returned, so recall equals candidate coverage:
    * the ADC ranking error is erased for r exact dots per query.
    */
  def ivfPqRerankSearch(index: DataFrame, corpus: DataFrame,
                        queries: DataFrame, model: IvfPqModel,
                        nProbe: Int = 8, r: Int = 160,
                        k: Int = 5): DataFrame = {
    val cand = ivfPqSearch(index, queries, model, nProbe, r)
      .select(col("qid"), col("vec_id"))
    val v = col(model.vcol)
    val qn = queries.withColumn("qn", sqrt(model.dot(col("qe"), col("qe"))))
    topK(corpus.join(broadcast(cand), "vec_id").join(broadcast(qn), "qid")
      .withColumn("cos_sim", round(model.dot(col("qe"), v)
        / (col("qn") * sqrt(model.dot(v, v))), 6)), "cos_sim", k)
  }

  /** Index `emb` under `model` and serve its first `nQueries` vectors —
    * the composed gate shape: ADC top-k, or with `r > 0` the ADC top-r
    * re-ranked exactly to top-k.
    */
  private[graft] def ivfPqServe(emb: DataFrame, model: IvfPqModel,
                                nProbe: Int, nQueries: Int, k: Int,
                                r: Int = 0): DataFrame = {
    val index = ivfPqIndex(emb, model)
    val queries = model.queries(emb, nQueries)
    if (r == 0) ivfPqSearch(index, queries, model, nProbe, k)
    else ivfPqRerankSearch(index, model.vectors(emb), queries, model,
      nProbe, r, k)
  }

  /** Un-pruned ADC scan: every corpus vector's codes scored against
    * every query (self excluded) — the PQ-only paths q_sim4/q_sim11,
    * and what [[ivfPqSearch]] reproduces when every cell is probed.
    */
  private def adcScan(emb: DataFrame, model: IvfPqModel, nQueries: Int,
                      k: Int): DataFrame = {
    model.register(emb.sparkSession)
    val coded = model.vectors(emb)
      .select(col("vec_id") +: model.codes(col(model.vcol)): _*)
    topK(coded.join(broadcast(model.queries(emb, nQueries)),
      col("vec_id") =!= col("qid"))
      .withColumn("pq_score", model.score(col("qe"))),
      "pq_score", k)
  }

  private def scaledK(op: String, k: Int, fixtureScale: Boolean): Int = {
    Clustering.requireScaledK(op, k, fixtureScale)
    k
  }

  /** IVF-PQ (coarse cells + ADC over codes), q_sim10: the composition
    * that indexes a 100 TB corpus — the corpus-resident row is (cell, m
    * codes), 8 B of codes per vector, and a search reads only
    * corpus/nCells·nProbe of them. With `nProbe = nCentroids` it
    * reproduces [[pqTopK]] exactly (SimilaritySpec pins this).
    */
  def ivfPqTopK(emb: DataFrame, nCentroids: Int = 16, nProbe: Int = 2,
                nQueries: Int = 8, k: Int = 5, dim: Int = 64,
                fixtureScale: Boolean = false): DataFrame =
    ivfPqServe(emb, IvfPqModel.seed(emb,
      scaledK("ivfPqTopK", nCentroids, fixtureScale), dim = dim),
      nProbe, nQueries, k)

  /** q_sim12: [[ivfPqTopK]] with BOTH quantisers Lloyd-trained on the
    * micro grid ([[IvfPqModel.train]]); the DuckDB twin re-derives both
    * trainings with the iterations unrolled.
    */
  def ivfPqTrainedTopK(emb: DataFrame, nCentroids: Int = 16,
                       nProbe: Int = 2, nQueries: Int = 8, k: Int = 5,
                       dim: Int = 64,
                       fixtureScale: Boolean = false): DataFrame =
    ivfPqServe(emb, IvfPqModel.train(emb,
      scaledK("ivfPqTrainedTopK", nCentroids, fixtureScale), dim = dim),
      nProbe, nQueries, k)

  /** q_sim15, the canonical serving stack (FAISS's IVFPQ+refine
    * shape): residual index → per-cell ADC top-160 over 8 probed cells
    * → exact re-rank to top-k.
    */
  def ivfPqResidualRerankTopK(emb: DataFrame, nCentroids: Int = 16,
                              nQueries: Int = 8, k: Int = 5,
                              dim: Int = 64,
                              fixtureScale: Boolean = false)
      : DataFrame =
    ivfPqServe(emb, IvfPqModel.residual(emb, scaledK(
      "ivfPqResidualRerankTopK", nCentroids, fixtureScale), dim = dim),
      nProbe = 8, nQueries, k, r = 160)

  // The names below are what the benchmark harness
  // (perfbench/src/Corpus.scala) calls: one-line forwards to the core.
  // A `dim` the core takes from the model is checked against it, not
  // ignored.

  /** [[IvfPqModel]] under its residual name. */
  type IvfPqResidualModel = IvfPqModel

  object IvfPqResidualModel {
    def train(emb: DataFrame, nCentroids: Int = 16,
              dim: Int = 64): IvfPqModel =
      IvfPqModel.residual(emb, nCentroids, dim = dim)
  }

  def ivfPqResidualIndex(emb: DataFrame, model: IvfPqModel,
                         dim: Int = 64): DataFrame =
    ivfPqIndex(emb, model.withDim(dim))

  def ivfPqResidualRerankSearch(index: DataFrame, corpusQ: DataFrame,
                                queries: DataFrame, model: IvfPqModel,
                                k: Int = 5, dim: Int = 64): DataFrame =
    ivfPqRerankSearch(index, corpusQ, queries, model.withDim(dim), k = k)

  // ---- micro-unit training (exact, oracle-gateable) -----------------

  /** Per-subspace Lloyd training of the PQ codebooks on the
    * MICRO-UNIT grid — the oracle-gateable twin of
    * [[trainPqCodebooks]], whose float `avg` is aggregation-order
    * dependent (fine for a spec, fatal for a cross-engine hash gate).
    * Micro-unit vectors are integers held in doubles, so every per-(s,
    * code) component sum is EXACT under any partitioning and the
    * trained codeword is the exact rational S/n — bit-identical in
    * Spark and DuckDB ([[graft.llm.Clustering]]'s k-means recipe,
    * applied per subspace).
    */
  def pqTrainedCodebooks(emb: DataFrame, nCodes: Int = 16, m: Int = 8,
                         iters: Int = 2, dim: Int = 64)
      : Array[Array[(Int, Array[Double])]] = {
    // Clustering.train's pattern: training is fully materialised
    // inside this call, so the quantised corpus caches for its
    // duration and unpersists before return — the session
    // CacheManager stays empty for the caller
    val embq = quantised(emb).cache()
    try pqTrainedCodebooksQ(embq, nCodes, m, iters, dim)
    finally embq.unpersist(false)
  }

  /** [[pqTrainedCodebooks]] over an ALREADY-quantised `(vec_id, qv)`
    * frame, leaving materialisation policy to the caller (so
    * [[IvfPqModel.train]] shares one quantised frame between its two
    * concurrent trainings).
    */
  private[llm] def pqTrainedCodebooksQ(embq: DataFrame, nCodes: Int,
                                       m: Int, iters: Int, dim: Int)
      : Array[Array[(Int, Array[Double])]] = {
    graft.functions.DoubleVecDot.register(embq.sparkSession)
    lloydSubspaceBooks(embq, "qv", seedBooks(
      seedRows[Double](embq, "qv", nCodes), nCodes, m, dim,
      "pqTrainedCodebooks"), iters)
  }

  /** The per-subspace Lloyd loop shared by raw micro vectors and
    * residual vectors: each iteration is ONE scan of `frame` — the m
    * subvector codes are zero-shuffle literal argmaxes over the
    * current books, the update one map-side-combined (s, code)
    * aggregate of exact integer sums, model-sized output collected to
    * the driver. Empty codes keep their previous codeword.
    */
  private def lloydSubspaceBooks(frame: DataFrame, vcol: String,
      books0: Array[Array[(Int, Array[Double])]],
      iters: Int): Array[Array[(Int, Array[Double])]] = {
    val m = books0.length
    val subDim = books0.head.head._2.length
    var books = books0
    for (_ <- 0 until iters) {
      val stacked = frame.select(explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          winner(graft.functions.CellTopK.rankD(col(vcol), books(s),
            MicroScale, nTop = 1, offset = s * subDim)).as("code"),
          slice(col(vcol), s * subDim + 1, subDim).as("sv"))
      ): _*)).as("x"))
        .select(col("x.s"), col("x.code"), col("x.sv"))
      val aggs = count(lit(1)).as("n") +: (0 until subDim).map(i =>
        sum(element_at(col("sv"), i + 1)).as(s"s$i"))
      val means = stacked.groupBy("s", "code")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val n = r.getLong(2).toDouble
          (r.getInt(0), r.getInt(1)) ->
            Array.tabulate(subDim)(i => r.getDouble(i + 3) / n)
        }
        .toMap
      books = Array.tabulate(m)(s => books(s).map { case (cid, old) =>
        (cid, means.getOrElse((s, cid), old))
      })
    }
    books
  }

  /** q_sim11, the production PQ path — train → encode → ADC — as ONE
    * oracle-gateable operator: Lloyd-trained micro-unit codebooks
    * ([[pqTrainedCodebooks]]) served by the un-pruned ADC scan. The
    * DuckDB twin re-derives the trained codebooks from the same seed
    * rule with the iterations unrolled
    * (graft.oracle.LlmOracles.sim11PqTrained).
    */
  def pqTrainedTopK(emb: DataFrame, nCodes: Int = 16, m: Int = 8,
                    iters: Int = 2, nQueries: Int = 8, k: Int = 5,
                    dim: Int = 64,
                    fixtureScale: Boolean = false): DataFrame = {
    Clustering.requireScaledK("pqTrainedTopK", nCodes, fixtureScale)
    adcScan(emb, IvfPqModel(Array.empty,
      pqTrainedCodebooks(emb, nCodes, m, iters, dim), micro = true),
      nQueries, k)
  }

  /** Run two INDEPENDENT model trainings concurrently from driver
    * threads (optimization-guide §2.6, overlap independent jobs):
    * each training is a chain of tiny model-scale jobs whose tasks
    * leave most cores idle, so the scheduler back-fills one
    * training's idle capacity with the other's jobs and the wall
    * clock approaches max(a, b) instead of a + b. Results are
    * unchanged — each closure depends only on its own input — and a
    * failure in either propagates to the caller.
    */
  private[llm] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    import scala.util.Failure
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fa = Future(a)
      val fb = Future(b)
      // fail-FAST completion: either side's failure resolves the
      // awaited promise immediately, instead of sitting on a hung
      // first training while the second has already failed
      val p = Promise[(A, B)]()
      fa.onComplete { case Failure(e) => p.tryFailure(e); case _ => }
      fb.onComplete { case Failure(e) => p.tryFailure(e); case _ => }
      fa.zip(fb).onComplete(p.tryComplete)
      try Await.result(p.future,
        scala.concurrent.duration.Duration.Inf)
      catch {
        case e: Throwable => pool.shutdownNow(); throw e
      }
    } finally pool.shutdown()
  }

  /** N-way sibling of [[inParallel]]: run independent thunks on a
    * bounded driver pool (guide §2.6 — enough in flight to back-fill
    * task-scheduler idle time, not so many they fight), await ALL in
    * order. Any failure propagates (later thunks may still run to
    * completion first — they are bounded Spark jobs).
    */
  private[llm] def inParallelAll[A](tasks: Seq[() => A],
                                    threads: Int = 4): Seq[A] = {
    if (tasks.isEmpty) return Seq.empty
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(threads, tasks.length))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = tasks.map(t => Future(t()))
      try fs.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
      catch { case e: Throwable => pool.shutdownNow(); throw e }
    } finally pool.shutdown()
  }

  /** Twin of DuckDB's integer-snap `round(x)` for driver-held model
    * state: half away from zero on doubles. Measured in DuckDB at
    * micro-unit magnitudes, on negative ties, inside `list_transform`
    * (the sim13 oracle's exact form) and on S/n divisions:
    * round(2.5)=3, round(−2.5)=−3, round(333332.5)=333333,
    * round(1234567.5)=1234568 — all away from zero. NOTE the
    * distinction from the DIGIT-scaled `round(x, n)`, whose tie-break
    * differs between engines (TextAnalysis.quality avoids that path
    * with floor(x·1e6 + 0.5) for exactly that reason); the
    * zero-digit integer snap used here is the one form both engines
    * agree on, and exact .5 ties ARE reachable (a centroid component
    * is S/n with S an exact integer sum). Tie cases pinned by
    * SimilaritySpec. Used to snap trained centroids onto the integer
    * micro grid so residuals stay exact.
    */
  private[graft] def qround(x: Double): Double = {
    // NOT floor(x+0.5): for inputs one ULP below a half-integer
    // (e.g. 0.49999999999999994) the ADDITION rounds up to the half
    // first, so floor(x+0.5) yields 1 where DuckDB's std::round
    // half-away rule yields 0. The fraction a−f is EXACT in FP
    // (f ≤ a < f+1 ⇒ Sterbenz), so comparing it to 0.5 applies the
    // half-away rule to the true double value — measured to match
    // DuckDB at exact .5 ties AND the near-tie ULP cases (pinned in
    // SimilaritySpec).
    val a = math.abs(x)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    if (x < 0) -r else r
  }

  // ---- index maintenance: staleness, repair, trigger (q_sim16-19) ---

  /** Default old-corpus cutoff for the maintenance reports: vectors
    * with vec_id below it are the "already indexed" corpus the stale
    * model trained on; the rest are post-training arrivals. 256 keeps
    * the centroid/codebook seed rules (vec_id < 16) inside the old
    * corpus at every test SF.
    */
  val StalenessOldCut = 256

  /** Occupancy of the grown corpus per cell: a k-row collect — model
    * state, never corpus-sized.
    */
  private def cellCounts(assigned: DataFrame): Map[Int, Long] =
    assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap

  /** Members-only 2-means of one cell: seeds = its two smallest member
    * vec_ids, `iters` Lloyd rounds on the exact micro-unit arithmetic
    * of [[graft.llm.Clustering]] over that cell's members only (the
    * hot-cell fraction of the corpus, not the corpus).
    */
  private def splitCell(assigned: DataFrame, cid: Int, iters: Int,
                        dim: Int): (Array[Double], Array[Double]) = {
    val pool = assigned.where(col("cell") === cid)
      .select("vec_id", "qv").cache()
    try {
      val seeds = pool.orderBy("vec_id").limit(2).collect()
        .map(_.getSeq[Double](1).toArray)
      require(seeds.length == 2, s"hot cell $cid has < 2 members")
      val sub = (0 until iters).foldLeft(
        Array((0, seeds(0)), (1, seeds(1)))) { (cs, _) =>
        Clustering.lloydStep(pool, cs, dim)
      }
      (sub(0)._2, sub(1)._2)
    } finally pool.unpersist(false)
  }

  /** Split the single hottest cell of `cents` (occupancy of the GROWN
    * corpus, max count, tie → min cid) into two sub-centroids
    * ([[splitCell]]). Returns the rebalanced centroid set and the hot
    * cid: the hot cid keeps sub-centroid 0, sub-centroid 1 appends as
    * cid = |cents| — cids stay dense 0..k, so the residual machinery
    * applies unchanged. Scale: one occupancy aggregate, `iters` Lloyd
    * passes over ONE cell's members, zero corpus-scale shuffles.
    */
  def rebalanceHotCell(embq: DataFrame,
                       cents: Array[(Int, Array[Double])],
                       iters: Int, dim: Int)
      : (Array[(Int, Array[Double])], Int) = {
    val assigned = assign(embq, cents)
    val occ = cellCounts(assigned)
    val hot = cents.map(_._1).maxBy(c => (occ.getOrElse(c, 0L), -c.toLong))
    val (sub0, sub1) = splitCell(assigned, hot, iters, dim)
    (cents.map { case (cid, v) => (cid, if (cid == hot) sub0 else v) } :+
      ((cents.length, sub1)), hot)
  }

  /** The next maintenance rung after [[rebalanceHotCell]]: repair the
    * top-`splits` occupancy-skewed cells AND merge the `splits` most
    * underfull ones, keeping k BOUNDED (a split-only policy grows the
    * centroid set — and so probe cost — without limit as repairs
    * accumulate).
    *
    * Deterministic policy, twin-reproducible from integer occupancy
    * counts alone:
    *  - hot set = top-`splits` cids by (count desc, cid asc); each
    *    splits via [[splitCell]], concurrently (each reads only its
    *    own cell's members);
    *  - cold set = bottom-`splits` cids by (count asc, cid asc),
    *    hot-disjoint; the i-th cold cid's centroid is REPLACED by the
    *    i-th hot split's sub-centroid 1. The merge is implicit: the
    *    deleted underfull centroid's members re-assign to their
    *    nearest surviving centroid at the next full assignment, and
    *    cids stay dense 0..k-1.
    */
  def rebalanceCellsMerge(embq: DataFrame,
                          cents: Array[(Int, Array[Double])],
                          iters: Int, dim: Int, splits: Int = 2)
      : (Array[(Int, Array[Double])], Seq[Int], Seq[Int]) = {
    require(splits >= 1 && 2 * splits <= cents.length,
      s"splits $splits needs 2*splits <= k=${cents.length}")
    val assigned = assign(embq, cents).localCheckpoint(eager = false)
    val occ = cellCounts(assigned)
    val hot = cents.map(_._1)
      .sortBy(c => (-occ.getOrElse(c, 0L), c.toLong)).take(splits).toSeq
    val cold = cents.map(_._1).filterNot(hot.contains)
      .sortBy(c => (occ.getOrElse(c, 0L), c.toLong)).take(splits).toSeq
    require(cold.length == splits,
      s"rebalanceCellsMerge: needs $splits hot-disjoint cold cells")
    val subs = inParallelAll(
      hot.map(h => () => splitCell(assigned, h, iters, dim)))
    val repl: Map[Int, Array[Double]] =
      hot.zip(subs.map(_._1)).toMap ++ cold.zip(subs.map(_._2)).toMap
    (cents.map { case (cid, v) => (cid, repl.getOrElse(cid, v)) },
      hot, cold)
  }

  /** What every maintenance report shares: the grown corpus split at
    * `oldCut`, its micro projection, the standing queries, the exact
    * ground truth, and the trainings, occupancy legs and served-hit
    * legs measured over them. Every count is an integer, so the gates
    * hash bit-for-bit.
    *
    * Scale shape: bounded trainings (iters-capped map-side-combined
    * scans), zero-shuffle index projections, searches over broadcast
    * probes, and MODEL-sized joins for the hit counts (nQueries·k
    * pairs). No corpus-scale shuffle anywhere.
    */
  private final class Maintenance(emb: DataFrame, nCentroids: Int,
                                  nProbe: Int, nCodes: Int, m: Int,
                                  iters: Int, nQueries: Int, k: Int,
                                  dim: Int, oldCut: Int) {
    private val spark = emb.sparkSession
    import spark.implicits._
    graft.functions.DoubleVecDot.register(spark)
    val embOld: DataFrame = emb.where(col("vec_id") < oldCut)
    val embq: DataFrame = quantised(emb)
    private val queries = embq.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qe"))
    private val truth = bruteForceTopK(emb, nQueries, k)
      .select("qid", "vec_id")

    def train(e: DataFrame): IvfPqModel =
      IvfPqModel.residual(e, nCentroids, nCodes, m, iters, dim)

    /** The stale (old-corpus) and fresh (grown-corpus) models; the
      * trainings read distinct frames, so they run concurrently.
      */
    def staleAndFresh(): (IvfPqModel, IvfPqModel) =
      inParallel(train(embOld), train(emb))

    /** Residual books retrained on the OLD corpus against repaired
      * cells — a repair never trains corpus-scale.
      */
    def retrain(cents: Array[(Int, Array[Double])]): IvfPqModel =
      IvfPqModel.residualOn(cents, embOld, nCodes, m, iters, dim)

    /** The stale model's INCREMENTALLY-maintained index: old-corpus
      * encode ∪ post-training arrivals encoded under the same model.
      */
    def incremental(model: IvfPqModel): DataFrame =
      ivfPqIndex(embOld, model)
        .unionAll(ivfPqIndex(emb.where(col("vec_id") >= oldCut), model))

    def fromScratch(model: IvfPqModel): (DataFrame, IvfPqModel) =
      (ivfPqIndex(emb, model), model)

    /** `<name>_raw` per-cell counts of the grown corpus under `cents`. */
    def occ(cents: Array[(Int, Array[Double])], name: String): DataFrame =
      assign(embq, cents).groupBy("cell").agg(count(lit(1)).as(s"${name}_raw"))
        .select(col("cell").cast("long").as("cell"), col(s"${name}_raw"))

    /** Dense cells 0 until `n`, each `<name>_raw` column of `occs`
      * left-joined and reported as `name`, absent cells counted 0.
      */
    def perCell(n: Int, occs: DataFrame*)(names: String*): DataFrame =
      occs.foldLeft((0 until n).map(_.toLong).toDF("cell"))(
        _.join(_, Seq("cell"), "left"))
        .select(col("cell") +: names.map(c =>
          coalesce(col(s"${c}_raw"), lit(0L)).as(c)): _*)

    /** `cells` with one broadcast summary column per served leg — exact
      * ground-truth top-k hits of `ivfPqSearch(index, model)` — and
      * `truth_total`.
      */
    def withHits(cells: DataFrame,
                 legs: ((DataFrame, IvfPqModel), String)*): DataFrame =
      legs.foldLeft(cells) { case (df, ((index, model), name)) =>
        df.crossJoin(broadcast(truth.join(
          ivfPqSearch(index, queries, model, nProbe, k)
            .select("qid", "vec_id"), Seq("qid", "vec_id"))
          .agg(count(lit(1)).as(name))))
      }.crossJoin(broadcast(truth.agg(count(lit(1)).as("truth_total"))))
  }

  /** q_sim16, the retrain-trigger statistic: a trained residual model
    * goes STALE as the corpus grows — arrivals are encoded against
    * centroids and codebooks that never saw them, so per-cell
    * occupancy skews and recall drifts below a fresh-trained model's.
    *
    *  - one row per stale-model cell: `n_old` / `n_new` — old-corpus
    *    vs post-training vectors assigned to the cell (growth
    *    concentrating in few cells is the classic retrain signal);
    *  - summary columns `stale_hits` / `fresh_hits` / `truth_total` —
    *    exact ground-truth top-k hits of the stale vs fresh serving
    *    path, summed over the query set.
    */
  def indexStalenessReport(emb: DataFrame, nCentroids: Int = 16,
                           nProbe: Int = 2, nCodes: Int = 16,
                           m: Int = 8, iters: Int = 2,
                           nQueries: Int = 8, k: Int = 5,
                           dim: Int = 64,
                           oldCut: Int = StalenessOldCut,
                           fixtureScale: Boolean = false): DataFrame = {
    Clustering.requireScaledK("indexStalenessReport", nCentroids,
      fixtureScale)
    val mt = new Maintenance(emb, nCentroids, nProbe, nCodes, m, iters,
      nQueries, k, dim, oldCut)
    val (stale, fresh) = mt.staleAndFresh()
    val split = assign(mt.embq, stale.cents).groupBy("cell").agg(
      sum(when(col("vec_id") < oldCut, 1L).otherwise(0L)).as("n_old_raw"),
      sum(when(col("vec_id") >= oldCut, 1L).otherwise(0L)).as("n_new_raw"))
    mt.withHits(mt.perCell(nCentroids, split)("n_old", "n_new"),
      mt.fromScratch(stale) -> "stale_hits",
      mt.fromScratch(fresh) -> "fresh_hits")
  }

  /** q_sim17, the REPAIR step the staleness report calls for — both
    * maintenance operations a 100 TB index runs between full retrains:
    *
    *  - INCREMENTAL RE-ENCODE: the stale leg serves from the
    *    incrementally-built index ([[Maintenance.incremental]]), so any
    *    divergence from the from-scratch encode would break the hash;
    *  - CELL REBALANCE ([[rebalanceHotCell]]): the hottest cell of the
    *    grown corpus splits into two retrained sub-centroids; residual
    *    codebooks retrain against the rebalanced cells on the OLD
    *    corpus only.
    *
    * Output: one row per rebalanced cell (0..k) with `n_before` /
    * `n_after` occupancy of the grown corpus under the stale vs
    * rebalanced coarse quantiser, plus `stale_hits` / `rebal_hits` /
    * `fresh_hits` / `truth_total`. SimilaritySpec pins the recall
    * ordering stale ≤ rebalanced ≤ fresh.
    */
  def indexRebalanceReport(emb: DataFrame, nCentroids: Int = 16,
                           nProbe: Int = 2, nCodes: Int = 16,
                           m: Int = 8, iters: Int = 2,
                           nQueries: Int = 8, k: Int = 5,
                           dim: Int = 64,
                           oldCut: Int = StalenessOldCut,
                           fixtureScale: Boolean = false): DataFrame = {
    Clustering.requireScaledK("indexRebalanceReport", nCentroids,
      fixtureScale)
    val mt = new Maintenance(emb, nCentroids, nProbe, nCodes, m, iters,
      nQueries, k, dim, oldCut)
    val (stale, fresh) = mt.staleAndFresh()
    val (rebalCents, _) = rebalanceHotCell(mt.embq, stale.cents, iters,
      dim)
    mt.withHits(mt.perCell(nCentroids + 1, mt.occ(stale.cents, "n_before"),
      mt.occ(rebalCents, "n_after"))("n_before", "n_after"),
      (mt.incremental(stale), stale) -> "stale_hits",
      mt.fromScratch(mt.retrain(rebalCents)) -> "rebal_hits",
      mt.fromScratch(fresh) -> "fresh_hits")
  }

  /** q_sim18, the multi-cell repair + merge report: occupancy of the
    * grown corpus per cell (0..k-1, k CONSTANT — the bounded-k
    * invariant is structural) under the stale vs multi-repaired
    * ([[rebalanceCellsMerge]]) coarse quantiser, plus exact
    * ground-truth hits of the stale / multi-repaired / fresh serving
    * paths.
    */
  def indexMultiRepairReport(emb: DataFrame, nCentroids: Int = 16,
                             nProbe: Int = 2, nCodes: Int = 16,
                             m: Int = 8, iters: Int = 2,
                             nQueries: Int = 8, k: Int = 5,
                             dim: Int = 64,
                             oldCut: Int = StalenessOldCut,
                             splits: Int = 2,
                             fixtureScale: Boolean = false)
      : DataFrame = {
    Clustering.requireScaledK("indexMultiRepairReport", nCentroids,
      fixtureScale)
    val mt = new Maintenance(emb, nCentroids, nProbe, nCodes, m, iters,
      nQueries, k, dim, oldCut)
    val (stale, fresh) = mt.staleAndFresh()
    val (multiCents, _, _) = rebalanceCellsMerge(mt.embq, stale.cents,
      iters, dim, splits)
    require(multiCents.length == nCentroids,
      "multi-repair must keep k bounded")
    mt.withHits(mt.perCell(nCentroids, mt.occ(stale.cents, "n_before"),
      mt.occ(multiCents, "n_after"))("n_before", "n_after"),
      (mt.incremental(stale), stale) -> "stale_hits",
      mt.fromScratch(mt.retrain(multiCents)) -> "multi_hits",
      mt.fromScratch(fresh) -> "fresh_hits")
  }

  /** q_sim19: the COMPOSED maintenance flow a production index runs —
    * monitor → threshold → repair → verify — in one operator:
    *
    *  1. MONITOR: occupancy of the grown corpus under the stale coarse
    *     quantiser (one k-row model-sized collect);
    *  2. THRESHOLD: all-BIGINT skew test
    *     `maxN · k · trigDen > trigNum · totalN` (the hottest cell
    *     exceeds trigNum/trigDen × the mean cell) — integer
    *     arithmetic, so Spark and the DuckDB twin decide identically;
    *  3. REPAIR (only when triggered): exactly the q_sim17 step; an
    *     untriggered report leaves the model UNTOUCHED (n_after =
    *     n_before, the stale model serving from its incremental index);
    *  4. VERIFY: exact ground-truth hits of the SERVED model.
    *
    * Output: one row per cell 0..k (the split cell k is 0/0 when
    * untriggered, so the schema is branch-invariant): `n_before` /
    * `n_after`, `triggered` (0/1), `served_hits` / `truth_total`.
    */
  def indexMaintenance(emb: DataFrame, nCentroids: Int = 16,
                       nProbe: Int = 2, nCodes: Int = 16,
                       m: Int = 8, iters: Int = 2,
                       nQueries: Int = 8, k: Int = 5,
                       dim: Int = 64,
                       oldCut: Int = StalenessOldCut,
                       trigNum: Int = 6, trigDen: Int = 5,
                       fixtureScale: Boolean = false): DataFrame = {
    Clustering.requireScaledK("indexMaintenance", nCentroids,
      fixtureScale)
    require(trigNum >= 1 && trigDen >= 1,
      s"trigger ratio must be positive, got $trigNum/$trigDen")
    val mt = new Maintenance(emb, nCentroids, nProbe, nCodes, m, iters,
      nQueries, k, dim, oldCut)
    val stale = mt.train(mt.embOld)
    val occ = cellCounts(assign(mt.embq, stale.cents))
    val maxN = (0 until nCentroids).map(c => occ.getOrElse(c, 0L)).max
    val triggered =
      maxN * nCentroids * trigDen > trigNum.toLong * occ.values.sum
    val (afterCents, served) =
      if (triggered) {
        val (rebalCents, _) = rebalanceHotCell(mt.embq, stale.cents,
          iters, dim)
        (rebalCents, mt.fromScratch(mt.retrain(rebalCents)))
      } else (stale.cents, (mt.incremental(stale), stale))
    mt.withHits(mt.perCell(nCentroids + 1, mt.occ(stale.cents, "n_before"),
      mt.occ(afterCents, "n_after"))("n_before", "n_after")
      .withColumn("triggered", lit(if (triggered) 1L else 0L)),
      served -> "served_hits")
  }

  /** Recall@k of the nine approximate retrieval methods (LSH ×2, IVF,
    * PQ ×2, IVF-PQ seed/trained/residual, trained+exact-rerank)
    * against [[bruteForceTopK]]'s exact ground truth — the quality
    * number an ANN index is FOR. Both sides are deterministic, so the
    * recall is an exact fraction the DuckDB twin pins bit-for-bit.
    *
    * Output: one row per method — (method, n_hits, n_truth, recall)
    * with recall = n_hits / n_truth over all queries (micro recall@k).
    * `nProbe` exposes IVF's recall/cost dial; the other knobs default
    * to the q_sim2/3/4 gate shapes.
    */
  def annRecall(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                nCentroids: Int = 16, nProbe: Int = 2,
                nTables: Int = 2,
                fixtureScale: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val truth = bruteForceTopK(emb, nQueries, k)
      .select("qid", "vec_id").localCheckpoint(eager = false)
    def ids(df: DataFrame, method: String): DataFrame =
      df.select(lit(method).as("method"), col("qid"), col("vec_id"))
    // register BOTH vector functions up front: the arm builders run
    // on driver threads below, and the session registry write is the
    // one non-thread-safe step
    graft.functions.DoubleVecDot.register(spark)
    graft.functions.FloatVecDot.register(spark)
    // the coarse quantiser + raw-vector codebooks train ONCE and serve
    // every trained-family row: pq_trained = full probe (≡ the
    // un-pruned trained ADC scan, spec-pinned), ivfpq_trained =
    // nProbe, ivfpq_residual = the same centroids with residual-trained
    // codebooks at the SAME nProbe, ivfpq_rerank = the trained index at
    // its own serving dial (nProbe = cells/2, exact re-rank of the ADC
    // top-32k). Driver threads overlap (a) the truth materialisation,
    // (b) the five seed-family arms — EAGER localCheckpoints, each a
    // tiny frame — and (c) the training; the residual training and the
    // trained-family arms follow as soon as their model is ready.
    // Results are identical to a sequential union: every arm is the
    // same deterministic frame, merely materialised early.
    Clustering.requireScaledK("annRecall(trained)", nCentroids,
      fixtureScale)
    val seedArms: Seq[(String, () => DataFrame)] = Seq(
      ("lsh", () => lshTopK(emb, nQueries, k)),
      ("lsh_multi", () => lshMultiTopK(emb, nQueries, k, nTables)),
      ("ivf", () => ivfTopK(emb, nCentroids, nProbe, nQueries, k,
        fixtureScale)),
      ("ivfpq", () => ivfPqTopK(emb, nCentroids, nProbe,
        nQueries = nQueries, k = k, fixtureScale = fixtureScale)),
      ("pq", () => pqTopK(emb, nQueries = nQueries, k = k)))
    val (tm, seedDone) = inParallel(
      IvfPqModel.train(emb, nCentroids),
      inParallelAll(
        (() => { truth.count(); null: DataFrame }) +:
          seedArms.map { case (m, build) =>
            () => ids(build(), m).localCheckpoint()
          }, threads = 6))
    val tIdx = ivfPqIndex(emb, tm).localCheckpoint(eager = false)
    val tQ = tm.queries(emb, nQueries)
    // NOTE the q_sim8 DuckDB twin is FIXED at the 16-centroid gate
    // shape (its inner sim3/sim10/sim12/sim13/sim14 bodies all derive
    // from the vec_id < 16 seed rule, and the rerank row probes
    // 16/2 = 8 cells); a non-default nCentroids here is spec-only
    val (residualArm, trainedRaw) = inParallel(
      {
        // residual training AND its arm on one thread: the arm is the
        // training's only consumer
        val rm = IvfPqModel.residualOn(tm.cents, emb)
        ids(ivfPqSearch(ivfPqIndex(emb, rm), tQ, rm, nProbe, k),
          "ivfpq_residual").localCheckpoint()
      },
      inParallelAll(Seq(
        () => ids(ivfPqSearch(tIdx, tQ, tm, tm.cents.length, k),
          "pq_trained").localCheckpoint(),
        () => ids(ivfPqSearch(tIdx, tQ, tm, nProbe, k),
          "ivfpq_trained").localCheckpoint(),
        () => ids(ivfPqRerankSearch(tIdx, tm.vectors(emb), tQ, tm,
          tm.cents.length / 2, 32 * k, k), "ivfpq_rerank")
          .localCheckpoint())))
    val got = (seedDone.drop(1) ++ trainedRaw :+ residualArm)
      .reduce(_ unionByName _)
    val hits = got.join(truth, Seq("qid", "vec_id"))
      .groupBy("method").agg(count(lit(1)).as("n_hits"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    Seq("ivf", "ivfpq", "ivfpq_rerank", "ivfpq_residual",
      "ivfpq_trained", "lsh", "lsh_multi", "pq", "pq_trained")
      .toDF("method")
      .join(hits, Seq("method"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(broadcast(nTruth))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth").cast("double"))
      .select("method", "n_hits", "n_truth", "recall")
  }

  /** Multi-table LSH ANN: `nTables` independent hyperplane hash
    * tables ([[bucketSqlTable]]); a candidate is any vector sharing
    * the query's bucket in AT LEAST ONE table, ranked by exact cosine
    * over the candidate set only. nTables is the recall/cost dial
    * ([[lshTopK]] is the 1-table special case): each table multiplies
    * candidate volume ~(corpus / 2^NumPlanes)·nQueries and
    * independently re-cuts the sphere, so recall rises monotonically
    * with L (pinned by the sim8 gate + SimilaritySpec).
    *
    * Plane diversity bound: the deterministic plane family cycles
    * with period 19 in the plane index (mod-19 component), so tables
    * beyond t = 2 start re-using planes in new combinations — recall
    * still only rises (the candidate union grows), but with
    * diminishing independence; production would widen the component
    * modulus with the table count.
    *
    * Scale: per-table bucketing is a row-local projection; the
    * candidate join is keyed (tbl, bucket) with the query side
    * broadcast; the exact-rank join touches candidates only.
    */
  def lshMultiTopK(emb: DataFrame, nQueries: Int, k: Int,
                   nTables: Int = 2): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
    graft.functions.FloatVecDot.register(emb.sparkSession)
    val withNorm = emb
      .withColumn("nrm", expr(normSql("embedding")(SparkD)))
    val bucketed = (0 until nTables).foldLeft(withNorm) { (df, t) =>
      df.withColumn(s"b$t",
        expr(bucketSqlTable("embedding", t)(SparkD)))
    }
    val tables = (0 until nTables).map { t =>
      bucketed.select(col("vec_id"), lit(t).as("tbl"),
        col(s"b$t").as("bkt"))
    }.reduce(_ unionAll _)
    val qTab = broadcast(tables.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("tbl"), col("bkt")))
    val cand = tables.join(qTab, Seq("tbl", "bkt"))
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val q = broadcast(withNorm.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")))
    topK(cand
      .join(q, "qid")
      .join(withNorm.select(col("vec_id"), col("embedding"),
        col("nrm")), "vec_id")
      .withColumn("cos_sim",
        round(expr(dotSql("qe", "embedding")(SparkD))
          / (col("qn") * col("nrm")), 6)), "cos_sim", k)
  }

  /** Bucketed ANN: same ranking but candidates limited to the query's
    * LSH bucket.
    */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    graft.functions.FloatVecDot.register(emb.sparkSession)
    val bucketed = emb
      .withColumn("bucket", bucketExpr("embedding"))
      .withColumn("nrm", expr(normSql("embedding")(SparkD)))
    val q = broadcast(bucketed.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("bucket"), col("nrm").as("qn")))
    topK(q.join(bucketed, Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(expr(dotSql("qe", "embedding")(SparkD))
        / (col("qn") * col("nrm")), 6)), "cos_sim", k,
      lead = Seq("qid", "bucket"))
  }
}
