package graft

import graft.relational.SkewTools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewAndExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("float_dot registers and evaluates via SQL (codegen path)") {
    // suites share one session (getOrCreate), so exercise the
    // per-session registration; GraftExtensions wires the same builder
    // for platform-built sessions and is applied here to prove the
    // injection is well-formed.
    new GraftExtensions()(
      new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.FloatVecDot.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val got = df.selectExpr("float_dot(a, b) AS d").head().getDouble(0)
    assert(got == 11.0)
    // empty + mismatched lengths: min-length semantics, no NPE
    val edge = Seq((Array.empty[Float], Array(1.0f)),
      (Array(2.0f, 3.0f), Array(4.0f))).toDF("a", "b")
    val vals = edge.selectExpr("float_dot(a, b) AS d")
      .collect().map(_.getDouble(0)).toSeq
    assert(vals == Seq(0.0, 8.0))
  }

  test("double_dot registers and evaluates via SQL (codegen path)") {
    new GraftExtensions()(
      new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.DoubleVecDot.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.selectExpr("double_dot(a, b) AS d")
      .head().getDouble(0) == 11.0)
    val edge = Seq((Array.empty[Double], Array(1.0)),
      (Array(2.0, 3.0), Array(4.0))).toDF("a", "b")
    assert(edge.selectExpr("double_dot(a, b) AS d")
      .collect().map(_.getDouble(0)).toSeq == Seq(0.0, 8.0))
  }

  test("a second float_dot/double_dot register leaves the builder in " +
    "place") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    Seq[(String, SparkSession => Unit)](
      "float_dot" -> graft.functions.FloatVecDot.register,
      "double_dot" -> graft.functions.DoubleVecDot.register).foreach {
      case (name, register) =>
        register(spark)
        val first = registry.lookupFunctionBuilder(FunctionIdentifier(name))
        assert(first.isDefined, name)
        register(spark)
        val second = registry.lookupFunctionBuilder(FunctionIdentifier(name))
        assert(second.exists(_ eq first.get), s"$name was re-registered")
    }
  }

  test("saltedCount equals plain count") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7, i)).toDF("k", "v")
    val plain = df.groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val salted = SkewTools.saltedCount(df, "k", "v")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(plain == salted)
  }

  test("saltedJoin equals plain join") {
    import spark.implicits._
    val left = (1 to 500).map(i => (i % 5, i)).toDF("k", "v")
    val right = (0 until 5).map(i => (i, s"r$i")).toDF("k", "name")
    val plain = left.join(right, "k").count()
    val salted = SkewTools.saltedJoin(left, right, "k", "v").count()
    assert(plain == salted)
  }

  test("AQE skew split fires on the q_d11 hot band bucket and the " +
    "answer is identical to the unsplit plan") {
    import graft.llm.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val skewed = Dedup.skewBoilerplate(docs) // 100 of 500 docs identical
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // baseline: default session planning; hotBucketCap = 0 EXPLICITLY
    // — this spec exists to prove AQE splits the unguarded hot join
    // (the production derived-cap default would exclude the bucket)
    val base = rows(Dedup.lshCandidates(skewed, hotBucketCap = 0))
    assert(base.size > 4900, s"hot bucket should yield C(100,2)+ pairs")
    // skew-tuned: force the band self-join through a shuffle join and
    // lower the AQE skew thresholds so sf0.01's hot partition counts
    // as skewed — the split must change the PLAN, never the rows
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      val df = Dedup.lshCandidates(skewed, hotBucketCap = 0)
      val split = rows(df)
      assert(split == base,
        "skew-split plan changed the candidate set")
      val finalPlan = df.queryExecution.executedPlan.toString()
      assert(finalPlan.toLowerCase.contains("skew"),
        s"expected a skew-split join in the adaptive final plan:\n" +
          finalPlan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("hot-bucket cap (q_d14): capped candidates are a subset, the " +
    "quadratic boilerplate bucket is gone, sparse buckets untouched") {
    import graft.llm.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val skewed = Dedup.skewBoilerplate(docs) // 100 of 500 docs identical
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc1", "doc2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Dedup.lshCandidates(skewed, hotBucketCap = 0))
    val capped = pairs(Dedup.lshCandidates(skewed, hotBucketCap = 64))
    assert(capped.subsetOf(uncapped), "the cap may only remove pairs")
    // the C(100, 2) boilerplate-x-boilerplate blow-up is exactly what
    // goes: no surviving pair has BOTH ends stamped
    assert(!capped.exists(p => p._1 % 5 == 0 && p._2 % 5 == 0),
      "no boilerplate-boilerplate pair may survive the cap")
    assert(uncapped.count(p => p._1 % 5 == 0 && p._2 % 5 == 0) >= 4950,
      "the uncapped run must actually contain the hot bucket")
    // sparse-bucket pairs (organic near-dups) are untouched
    val organic = uncapped.filterNot(p => p._1 % 5 == 0 && p._2 % 5 == 0)
    assert(capped == organic || capped.subsetOf(organic),
      "capping must keep the organic candidates")
    // cap = 0 is the identity (the d2/d11 gate behaviour)
    assert(pairs(Dedup.lshCandidates(skewed, hotBucketCap = 0))
      == uncapped)
  }

  test("minhash accuracy: identical docs estimate exactly, candidate " +
    "set matches lshCandidates, mean error is estimator-sized") {
    import graft.llm.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val skewed = Dedup.skewBoilerplate(docs)
    // hotBucketCap = 0 on BOTH: the estimator is graded on the
    // identical boilerplate pairs the production default would route
    // to exact dedup instead
    val acc = Dedup.minhashAccuracy(skewed, hotBucketCap = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5),
        r.getLong(6), r.getLong(7)))
    val cand = Dedup.lshCandidates(skewed, hotBucketCap = 0)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(acc.map(t => (t._1, t._2)).toSet == cand,
      "accuracy rows must cover exactly the LSH candidate set")
    // the boilerplate stamp makes every (5i, 5j) pair textually
    // identical: 16/16 matches, exact Jaccard 1 -> zero error
    val identical = acc.filter(t => t._1 % 5 == 0 && t._2 % 5 == 0)
    assert(identical.nonEmpty)
    assert(identical.forall(t => t._3 == 16 && t._4 == 1000000L &&
      t._5 == 1000000L && t._6 == 0L),
      "identical docs must estimate Jaccard exactly")
    // estimator quality: with 16 permutations the per-pair std is
    // <= 1/8; on this fixture (dominated by exact duplicates) the
    // mean absolute error must stay far below that bound
    val meanErr = acc.map(_._6).sum.toDouble / acc.length
    assert(meanErr < 100000.0,
      s"mean |est - jaccard| = ${meanErr / 1e6} too high")
  }

  test("bloom sequential replay: no false negatives ever; FPs appear " +
    "when the filter saturates and vanish when it is sized right") {
    import graft.llm.Dedup
    // the gate's corpus: skew-stamped so exact duplicates exist
    val docs = Dedup.skewBoilerplate(spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet"))
    def stats(mBits: Int): (Long, Long, Long) = {
      val r = Dedup.bloomSeqDedup(docs, mBits, Dedup.GateBloomHashes)
        .select("bloom_dup", "exact_dup", "false_positive").collect()
      // Bloom never false-negatives: identical text => identical bits,
      // all set by the earlier copy
      assert(r.forall(x => !x.getBoolean(1) || x.getBoolean(0)),
        s"false negative at mBits=$mBits")
      (r.count(_.getBoolean(0)), r.count(_.getBoolean(1)),
        r.count(_.getBoolean(2)))
    }
    val (_, exactTiny, fpTiny) = stats(256)      // fill ~1: FP-heavy
    val (_, _, fpGate) = stats(Dedup.GateBloomBits) // gate sizing
    val (bloomBig, exactBig, fpBig) = stats(1 << 16) // production-ish
    assert(exactTiny > 0, "fixture must contain exact duplicates")
    assert(fpTiny > fpGate,
      s"saturated filter must out-collide the gate sizing " +
        s"($fpTiny vs $fpGate)")
    assert(fpGate > 0,
      "gate sizing must produce false positives to grade (else the " +
        "false_positive column is constant and the gate proves nothing)")
    assert(fpBig == 0 && bloomBig == exactBig,
      s"well-sized filter must be exact on this fixture " +
        s"(fp=$fpBig bloom=$bloomBig exact=$exactBig)")
  }

  test("bloom probe: zero-shuffle plan, agrees with set membership, " +
    "streaming twin matches batch") {
    import graft.llm.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val build = docs.where(col("doc_id") % 2 === 0)
    val m = 4096
    val model = Dedup.bloomModel(build, m, 4)
    assert(model.words.length == m / 64)
    assert(model.bitsSet > 0 && model.fill < 1.0)
    val probed = Dedup.bloomProbeWith(docs, model)
    // serving path is a pure projection: no exchange anywhere
    assert(!probed.queryExecution.executedPlan.toString()
      .toLowerCase.contains("exchange"),
      "bloom probe must be zero-shuffle")
    val got = probed.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    // independent membership re-derivation: positions via the same
    // builder, driver-side set containment

    val posOf = (df: org.apache.spark.sql.DataFrame) => df.select(
      col("doc_id"),
      expr(Dedup.bloomPositions(m, 4)(graft.llm.TextExprs.SparkD))
        .as("pos")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val builtBits = posOf(build).values.flatten.toSet
    val expected = posOf(docs).map { case (id, ps) =>
      (id, ps.count(builtBits.contains),
        ps.forall(builtBits.contains))
    }.toSet
    assert(got == expected, "probe verdicts must equal set membership")
    // every built doc must self-hit (no false negatives)
    val buildIds = build.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got.filter(t => buildIds(t._1)).forall(_._3))
    // streaming twin: same rows from the file-source stream
    val streamed = graft.streaming.DedupStream
      .bloomProbeOnce(spark, dir, model).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(streamed == got, "streaming bloom probe must match batch")
  }

  // ---- embeddingNearDup derived-plane scaling (round-20 q_d5 fix) ----

  /** Deterministic pseudo-random embeddings: dim-16, each component a
    * sin of a SQUARED Knuth-hash of (vec_id, d) so components
    * decorrelate and the bucket distribution is near-uniform. The
    * square matters: sin(a + c_d) is a fixed linear combination of
    * (sin a, cos a), so a linear hash puts the whole corpus on a 2-D
    * ellipse with only ~2·planes reachable sign patterns — testing the
    * hot-bucket CAP instead of the plane derivation. Row-local, no
    * data files needed.
    */
  private def synthEmb(n: Int) = spark.range(n)
    .select(col("id").as("vec_id"))
    .withColumn("embedding", expr(
      "transform(sequence(0, 15), d -> " +
        "CAST(sin(CAST(pmod(pmod(vec_id * 2654435761 + " +
        "CAST(d AS BIGINT) * 1013904223, 1000003) * " +
        "pmod(vec_id * 2654435761 + CAST(d AS BIGINT) * 1013904223, " +
        "1000003), 1000003) AS DOUBLE)) AS FLOAT))"))

  test("bucketSqlPlanes: low-bit masking identity — 24-plane bucket " +
    "mod 2^p IS the p-plane bucket, and the wide family fills all bits") {
    import graft.llm.{Similarity, TextExprs}
    implicit val d: TextExprs.Dialect = TextExprs.SparkD
    val e = synthEmb(200)
    graft.functions.SignBucketWide.register(spark)
    val got = e.select(
      expr(Similarity.bucketSqlPlanes("embedding", Similarity.MaxPlanes))
        .as("fb"),
      expr(Similarity.bucketSqlPlanes("embedding", 8)).as("b8"),
      expr(Similarity.bucketSqlPlanes("embedding", 12)).as("b12"),
      expr(s"sign_bucket_wide(embedding, ${Similarity.MaxPlanes})")
        .as("fbx"))
      .collect()
    assert(got.forall(r =>
      r.getLong(0) % 256 == r.getLong(1) &&
        r.getLong(0) % 4096 == r.getLong(2)),
      "masking identity must hold for every row")
    assert(got.map(_.getLong(0)).exists(_ >= (1L << 23)),
      "24-plane buckets must actually use the high bits")
    // the codegen'd expression IS the SQL fold, bit for bit — this
    // parity is what lets embeddingNearDup serve the fused loop while
    // the DuckDB twin keeps evaluating the HOF form
    assert(got.forall(r => r.getLong(0) == r.getLong(3)),
      "SignBucketWide must equal the SQL bucket on every row")
  }

  test("sign_bucket_wide: dim > 64 fails LOUDLY (the plane family " +
    "strides by 64, so wider embeddings would alias planes), and a " +
    "non-float array fails analysis instead of misreading bytes") {
    import spark.implicits._
    graft.functions.SignBucketWide.register(spark)
    val wide = Seq(Seq.tabulate(128)(i => i.toFloat)).toDF("embedding")
    val ex = intercept[Exception] {
      wide.select(expr("sign_bucket_wide(embedding, 8)")).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")) ++ Iterator(""))
        .mkString(" | ")
    assert(rootMsg(ex).contains("strides by 64"),
      s"expected the dim guard, got: ${rootMsg(ex).take(200)}")
    val dbl = Seq(Seq(1.0, 2.0)).toDF("embedding")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      dbl.select(expr("sign_bucket_wide(embedding, 8)")).collect()
    }
  }

  test("embeddingNearDup: candidate pairs grow SUBLINEARLY in corpus " +
    "size under the derived plane count (the round-19 weak fix)") {
    import graft.llm.Dedup
    // thr = -2 keeps every same-bucket pair => the count IS the
    // candidate volume; targetCell = 4 makes the derivation bind
    // inside test sizes (p: 8 -> 12 between n = 1024 and 10240)
    def pairs(n: Int, tc: Int): Long =
      Dedup.embeddingNearDup(synthEmb(n), -2.0, targetCell = tc).count()
    val p1 = pairs(1000, 4)
    val p10 = pairs(10000, 4)
    assert(p1 > 0, "small corpus must produce candidates")
    // fixed-plane quadratic shape would give ~100x; derived planes keep
    // expected cell size <= targetCell so growth is ~linear (allow 25x
    // for bucket-occupancy variance)
    assert(p10 < 25L * p1,
      s"candidate growth must be sublinear: n x10 gave $p1 -> $p10 " +
        s"(${p10.toDouble / p1}x)")
    // control: freezing the plane count at 8 (huge targetCell) on the
    // same 10k corpus shows the quadratic volume the derivation avoids
    val pFixed = pairs(10000, 1 << 20)
    assert(pFixed > 3L * p10,
      s"fixed 8-plane shape must be substantially larger " +
        s"($pFixed vs derived $p10)")
  }

  test("embeddingNearDup: derived result is IDENTICAL to the historic " +
    "fixed-8-plane shape below the derivation knee, and unexpected " +
    "negative hotBucketCap sentinels fail loudly") {
    import graft.llm.Dedup
    val e = synthEmb(500) // 500 <= 128 * 256 => p stays 8
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val derived = key(Dedup.embeddingNearDup(e, 0.3))
    val fixed8 = key(Dedup.embeddingNearDup(e, 0.3,
      targetCell = 1 << 20)) // modulus pinned at 2^8
    assert(derived == fixed8,
      "below the knee the derived plane count must be exactly 8")
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(e, 0.3, hotBucketCap = -2)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatesFromSig(e, hotBucketCap = -7)
    }
    intercept[IllegalArgumentException] {
      graft.llm.Multimodal.phashNearDup(e, hotBucketCap = -3)
    }
  }

  test("oracle MATERIALIZED rewrite: anchored to CTE heads only, " +
    "idempotent, and loud on a non-CTE 'AS ('") {
    import graft.oracle.LlmOracles.materialized
    val in = "WITH a AS (SELECT 1),\nb AS (SELECT round(x, 6) AS y " +
      "FROM a), c AS (WITH RECURSIVE r AS (SELECT 2) SELECT * FROM r)" +
      "\nSELECT * FROM c"
    val out = materialized(in)
    assert(out == ("WITH a AS MATERIALIZED (SELECT 1),\n" +
      "b AS MATERIALIZED (SELECT round(x, 6) AS y FROM a), " +
      "c AS MATERIALIZED (WITH RECURSIVE r AS MATERIALIZED (SELECT 2) " +
      "SELECT * FROM r)\nSELECT * FROM c"))
    assert(materialized(out) == out, "must be idempotent")
    // a non-CTE occurrence (string literal) must FAIL LOUDLY instead of
    // being silently rewritten (the pre-r20 blind replace) or silently
    // left to change twin behaviour
    intercept[IllegalArgumentException] {
      materialized("WITH a AS (SELECT 'x AS (' AS lit) SELECT * FROM a")
    }
    // the init-time requires have already run for every shipped twin
    // (object LlmOracles evaluates them as vals) — touching one proves
    // the whole object initialised loudly-clean
    assert(SparkEntry.oracleSql("q_d5_embedding_neardup")
      .contains("AS MATERIALIZED ("))
  }
}
