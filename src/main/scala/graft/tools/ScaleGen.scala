package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: generate an sf1-class synthetic dataset by scaling the
  * driver's sf0.1 tables `factor`×, for the round-17 growth
  * measurement (SCALE.md). Only the three tables the five most
  * expensive pipelines read are generated:
  *
  *  - `lineitem` (feeds VisSynth → pp_full / pp4): the base rows
  *    replicated with `l_orderkey' = l_orderkey·factor + r` — the
  *    modular cell-coordinate structure (t, ants, chans derive from
  *    key arithmetic) keeps its distribution, so the fixed
  *    (t × bl × chan) grid simply gains `factor`× samples per cell,
  *    exactly how the driver's own sf0.01 → sf0.1 step behaves.
  *  - `documents`: NEW texts drawn from the base corpus's OWN 31-word
  *    vocabulary with the base length (10–100 words), lang and source
  *    distributions, via deterministic integer mixing (31 is prime,
  *    so `(a·b) mod 31` scatters well) — near-dup structure stays
  *    random-corpus-like instead of the degenerate 10×-exact-clones a
  *    plain replication would create (which would grow LSH candidate
  *    pairs quadratically BY CONSTRUCTION and poison the measurement).
  *  - `embeddings`: new unit-normalised 64-dim float vectors from the
  *    same deterministic mixing, labels 0..9 like the base.
  *
  * Everything generates as Spark SQL expressions over `spark.range`
  * — no driver loops, scales to any factor.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Bench.sessionFor("32")

    // lineitem: replicate with remapped order keys
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val nLi = li.count()
    li.crossJoin(spark.range(factor).select(col("id").as("__r")))
      .withColumn("l_orderkey",
        col("l_orderkey") * factor + col("__r"))
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    println(s"[scalegen] lineitem ${nLi * factor} rows")

    // documents: fresh texts over the base vocabulary
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val vocab = base
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().orderBy("w").collect().map(_.getString(0))
    val nDocs = base.count() * factor
    val vLit = typedLit(vocab.toSeq)
    val langs = typedLit(Seq("de", "en", "es", "fr", "zh"))
    val v = vocab.length
    // four independent per-doc seeds mod large primes, each driving a
    // different power of the word position: a text collision needs
    // all four residues (mod v) AND the length to coincide —
    // key space v⁴·91 ≈ 8·10⁷, so ~15 accidental exact dups at 50k
    // docs (the base corpus has 8 at 5k — same order). A single-seed
    // rule collapses to v·91 distinct texts (measured: 2821), which
    // would hand the dedup pipelines a 95%-duplicate corpus.
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"))
      .withColumn("s1", pmod(col("doc_id") * 2654435761L, lit(1000003L)))
      .withColumn("s2", pmod(col("doc_id") * 40503L + 13, lit(999983L)))
      .withColumn("s3", pmod(col("doc_id") * 69069L + 29, lit(999979L)))
      .withColumn("s4", pmod(col("doc_id") * 10007L + 7, lit(999961L)))
      .withColumn("n_words", lit(10) + pmod(col("s1"), lit(91)))
      .withColumn("text", array_join(
        transform(sequence(lit(0), col("n_words") - 1),
          i => element_at(vLit,
            (pmod(col("s1") * (i + 17) + col("s2") * (i * i + 1)
              + col("s3") * (i * i * i + 7) + col("s4") * (i + 3)
                * (i + 11) * (i + 23),
              lit(v))).cast("int") + 1)),
        " "))
      .withColumn("lang", element_at(langs,
        pmod(col("doc_id") * 7 + 3, lit(5)).cast("int") + 1))
      .withColumn("source",
        concat(lit("src"), pmod(col("doc_id") * 13 + 1, lit(20))))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[scalegen] documents $nDocs rows, vocab $v")

    // embeddings: deterministic unit vectors, dim 64, labels 0..9
    val nEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .count() * factor
    // same multi-seed rule: one seed alone collapses vectors mod 2001
    val raw = transform(sequence(lit(0), lit(63)),
      i => (pmod(col("e1") * (i + 29) + col("e2") * (i * i + 3)
        + col("e3") * (i * i * i + 11), lit(2001)) - 1000)
        .cast("double") / 1000.0)
    val embs = spark.range(nEmb)
      .select(col("id").as("vec_id"))
      .withColumn("e1", pmod(col("vec_id") * 2654435761L, lit(1000003L)))
      .withColumn("e2", pmod(col("vec_id") * 40503L + 17, lit(999983L)))
      .withColumn("e3", pmod(col("vec_id") * 69069L + 5, lit(999979L)))
      .withColumn("__raw", raw)
      .withColumn("__n", sqrt(aggregate(col("__raw"),
        lit(0.0), (acc, x) => acc + x * x)))
      // a zero vector cannot normalise; nudge its first component
      .withColumn("__raw", when(col("__n") === 0.0,
        slice(concat(array(lit(1.0)), slice(col("__raw"), 2, 63)), 1, 64))
        .otherwise(col("__raw")))
      .withColumn("__n", sqrt(aggregate(col("__raw"),
        lit(0.0), (acc, x) => acc + x * x)))
      .withColumn("embedding",
        transform(col("__raw"), x => (x / col("__n")).cast("float")))
      .withColumn("label",
        pmod(col("vec_id") * 11 + 5, lit(10)).cast("int"))
      .select("vec_id", "embedding", "label")
    embs.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[scalegen] embeddings $nEmb rows")

    // events (feeds the q_e* family): replicate the user POPULATION —
    // user_id' = user_id·factor + r keeps every per-user history
    // intact (sessionisation/funnel/retention shapes preserved) while
    // the group count grows `factor`×; event ids remapped the same
    // way to stay unique. Timestamps untouched: the time axis is the
    // window/bucket GRID, which real growth doesn't widen.
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val nEv = ev.count()
    ev.crossJoin(spark.range(factor).select(col("id").as("__r")))
      .withColumn("user_id", col("user_id") * factor + col("__r"))
      .withColumn("event_id", col("event_id") * factor + col("__r"))
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    println(s"[scalegen] events ${nEv * factor} rows")

    // orders (feeds the q_h*/q_e3 relational family): the SAME
    // order-key remap as lineitem — o_orderkey' = o_orderkey·factor+r
    // — so the lineitem⋈orders join keys stay aligned and both fact
    // sides grow factor× together. Customer keys untouched: each
    // customer simply places factor× the orders, fact-growth without
    // dimension growth, which is what a 100 TB year looks like.
    val ord = spark.read.parquet(s"$baseDir/orders.parquet")
    val nOrd = ord.count()
    ord.crossJoin(spark.range(factor).select(col("id").as("__r")))
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("__r"))
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    println(s"[scalegen] orders ${nOrd * factor} rows")

    // dimension tables: broadcast-sized in every consumer; copied
    // verbatim so the dim joins resolve (growth measurements target
    // the fact sides)
    Seq("customer", "supplier", "part", "region", "nation").foreach {
      t =>
        spark.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        println(s"[scalegen] $t copied")
    }
    spark.stop()
  }
}
