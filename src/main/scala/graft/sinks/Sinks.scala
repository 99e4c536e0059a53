package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Output-side operators (reference src/io/).
  *
  * The astronomy formats demand exact time-major-then-baseline row order
  * and row-count invariants (uvfits: /root/reference/src/io/mod.rs:392-467;
  * mwaf row-count check: /root/reference/src/io/mwaf.rs:504-510). In Spark
  * the scale-correct way to get a global order is range partitioning +
  * within-partition sort + partition-offset index assignment — NOT a
  * global single-partition window, which would serialise the whole
  * dataset through one task.
  */
object Sinks {

  /** Size-derived encode parallelism for the binary sinks (uvfits /
    * MS part files). A fixed task count is a throughput ceiling at
    * 100x scale — the dominant sink cost is the parallel per-partition
    * encode, so the count must grow with the frame. Derivation:
    * ceil(rows / targetRowsPerTask), floored at the cluster's default
    * parallelism (small frames keep every core busy, matching the
    * previous fixed-32 behaviour on local[32]) and capped at 65536
    * tasks. `spark.graft.sink.encodePartitions` overrides explicitly.
    * Row-identical output at any count: the writers assign global
    * indices from range-partitioned order (partition-count-invariant)
    * and each task writes its byte slice at a computed offset.
    */
  def encodePartitions(spark: SparkSession, nRows: Long,
                       targetRowsPerTask: Long = 65536L): Int = {
    spark.conf.getOption("spark.graft.sink.encodePartitions") match {
      case Some(v) =>
        val n = v.toInt
        require(n > 0, s"spark.graft.sink.encodePartitions must be " +
          s"> 0, got $n")
        n
      case None => deriveEncodePartitions(nRows,
        spark.sparkContext.defaultParallelism, targetRowsPerTask)
    }
  }

  /** The pure size→task-count rule behind [[encodePartitions]]
    * (property-tested: monotone in rows, floored at the cluster
    * parallelism, capped at 65536).
    */
  def deriveEncodePartitions(nRows: Long, defaultParallelism: Int,
                             targetRowsPerTask: Long = 65536L): Int = {
    require(targetRowsPerTask > 0, "targetRowsPerTask must be > 0")
    val bySize = (nRows + targetRowsPerTask - 1) / targetRowsPerTask
    math.max(1L,
      math.min(math.max(bySize, defaultParallelism.toLong), 65536L))
      .toInt
  }

  /** K1: assign the global uvfits row index in (keys...) order.
    * Two-pass, all-DataFrame: range-partition + local sort puts
    * partitions in global order; `monotonically_increasing_id` then
    * numbers rows consecutively WITHIN each partition (pid in the high
    * bits, a 0-based counter in the low 33), so the global index is
    * `partition_offset + (mid − partition_first_mid)` — the offsets
    * come from one model-sized aggregate (≤ numParts rows) and return
    * to the scan through a broadcast-hash join. The whole path stays
    * inside Tungsten/whole-stage codegen: the previous
    * `rdd.zipWithIndex` variant deserialised every row to external
    * `Row` objects and re-encoded them, paying full materialisation
    * twice on the sink path.
    *
    * The sorted frame is locally checkpointed (eager) before the two
    * consumers: the range partitioner SAMPLES its bounds with an
    * RDD-id-dependent seed, so two separately-planned jobs over the
    * same lineage may cut DIFFERENT partition bounds — the offsets
    * would then be computed against a different partitioning than the
    * final pass reads. Pinning the partitions also means the range
    * shuffle executes once, not twice (the old zipWithIndex recomputed
    * the parent for its second pass). Blocks are InternalRow — no
    * CacheManager entry, no row re-encoding.
    */
  def orderedRowIdx(df: DataFrame, keys: Seq[String],
                    numParts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // numParts <= 0: size from the cluster's parallelism (rows are
    // unknown without an extra job; the parallelism floor alone
    // removes the old fixed-32 ceiling). Deliberately NOT the
    // spark.graft.sink.encodePartitions knob — that sizes the binary
    // ENCODE tasks, and an explicit repartition count is exempt from
    // AQE coalescing, so coupling the two would force the row-index
    // range shuffle to the encode width even on tiny frames.
    val parts =
      if (numParts > 0) numParts
      else spark.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(parts, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint()
    // per-partition (row count, first/last id): model-sized (≤ parts
    // rows), map-side combined — the bounded collect a parallel
    // encoder needs to turn local counts into global byte/row offsets
    val stats = sorted.groupBy("__pid")
      .agg(count(lit(1)).as("n"), min("__mid").as("base"),
        max("__mid").as("top"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // the index arithmetic needs the per-partition ids CONSECUTIVE —
    // Spark's current monotonically_increasing_id is (a per-partition
    // +1 counter), but the API contract only promises monotone+unique,
    // so verify it here: with monotone unique longs,
    // max − min + 1 == count ⟺ consecutive. A stepping change in some
    // future Spark fails LOUDLY instead of writing silently wrong
    // row indices into FITS bytes.
    stats.foreach { case (pid, n, base, top) =>
      require(top - base + 1 == n,
        s"orderedRowIdx: partition $pid ids not consecutive " +
          s"(min $base, max $top, count $n) — " +
          "monotonically_increasing_id changed stepping")
    }
    var acc = 0L
    val offsets = stats.map { case (pid, n, base, _) =>
      val off = acc; acc += n; (pid, off, base)
    }.toSeq.toDF("__pid", "__off", "__base")
    sorted.join(broadcast(offsets), "__pid")
      .withColumn("row_idx",
        (col("__off") + (col("__mid") - col("__base"))).cast(LongType))
      .select(df.columns.map(col).toIndexedSeq :+ col("row_idx"): _*)
  }

  /** K3 mwaf occupancy statistics per (coarse_chan, baseline)
    * (/root/reference/src/io/mwaf.rs:458-467): cell counts, flagged
    * counts, occupancy fraction. One hash aggregate with map-side combine.
    */
  def mwafOccupancy(visFlagged: DataFrame): DataFrame =
    visFlagged.groupBy("cc", "bl").agg(
      count(lit(1)).as("n_cells"),
      sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
      (sum(when(col("flag"), 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("occupancy"))

  /** Fine channels per bitmask word. 32, not 64: the words live in
    * LongType columns as NON-NEGATIVE payloads, so neither engine ever
    * shifts into the sign bit — DuckDB REFUSES `1::BIGINT << 63`
    * (measured: "Overflow in left shift"), which makes a 64-bit
    * payload impossible to oracle-compute; a 32-bit payload keeps the
    * Spark side and the DuckDB twin in identical, sign-free BIGINT
    * arithmetic. The FITS bytes are unchanged either way — the file
    * stores a bit COLUMN, the word width is purely the in-flight
    * container choice.
    */
  val MwafWordChans = 32

  /** Words needed for `fpc` fine channels per coarse. */
  def mwafWordCount(fpc: Int): Int =
    (fpc + MwafWordChans - 1) / MwafWordChans

  /** The all-flagged word array at width `fpc` (missing-cell fill):
    * every in-range bit set, out-of-range bits clear.
    */
  def mwafFullWords(fpc: Int): Seq[Long] =
    (0 until mwafWordCount(fpc)).map { w =>
      val chans = math.min(MwafWordChans, fpc - w * MwafWordChans)
      (1L << chans) - 1L
    }

  /** K3 mwaf bitmap rows: per (cc, bl, t), the fine-channel flag
    * bitvector packed into `flag_words` — an array of
    * ceil(fpc/32) words, bit k of word w ⇔ channel 32w+k flagged —
    * the parquet mirror of the mwaf FLAGS bit-column table
    * (/root/reference/src/io/mwaf.rs:424-495, row per (timestep,
    * baseline), cell = fine-chan bitvector; the reference's FLAGS
    * column is arbitrary-width, so this container must be too —
    * legacy 10 kHz observations carry 128 fine channels per coarse).
    *
    * One hash aggregate with map-side combine, one bit_or slot per
    * word (word count is a few, never data-sized). A row whose `fc`
    * falls outside [0, fpc) raises at execution — silently dropping
    * it from every word would write corrupt flag files.
    */
  def mwafBitmask(visFlagged: DataFrame, fpc: Int): DataFrame = {
    require(fpc >= 1, s"fpc must be >= 1, got $fpc")
    val nWords = mwafWordCount(fpc)
    val wc = MwafWordChans
    val wordAggs = (0 until nWords).map { w =>
      val lo = w * wc
      val hi = lo + wc
      // the range guard lives on word 0 only — one check per row
      val guard = if (w == 0)
        s"WHEN fc < 0 OR fc >= $fpc THEN CAST(raise_error(" +
          s"concat('mwaf bitmask: fc ', CAST(fc AS STRING), " +
          s"' outside [0, $fpc)')) AS BIGINT) "
      else ""
      expr(s"bit_or(CASE ${guard}WHEN flag AND fc >= $lo AND fc < $hi" +
        s" THEN shiftleft(CAST(1 AS BIGINT), CAST(fc AS INT) - $lo)" +
        " ELSE CAST(0 AS BIGINT) END)").cast("long").as(s"__w$w")
    }
    val aggs = wordAggs :+ count(lit(1)).as("n_samples")
    visFlagged.groupBy("cc", "bl", "t")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("flag_words",
        array((0 until nWords).map(w => col(s"__w$w")): _*))
      .select(col("cc"), col("bl"), col("t"), col("flag_words"),
        col("n_samples"))
  }

  /** Write the canonical bucketed mirror: parquet bucketed (and sorted)
    * by baseline. Wide operators keyed on `bl` (RFI grouping, occupancy,
    * per-baseline stats) then read pre-clustered data and Spark elides
    * their Exchange entirely — the 100 TB version of the reference's
    * "already in shared memory" per-baseline axis (SCALE.md "Where the
    * shuffles are"). Verified by SinksSpec: groupBy(bl) over the mirror
    * plans zero hash-partitioning exchanges.
    */
  /** Drop `table` AND its managed-warehouse location: a fresh session's
    * in-memory catalog forgets the table while the warehouse directory
    * persists on disk, and saveAsTable then refuses with
    * LOCATION_ALREADY_EXISTS — remove the stale path so the mirror
    * writers are re-runnable across sessions. The default-path delete
    * covers ONLY the stale-directory case — NO table registered under
    * the name yet the managed location survives from an earlier
    * session. If a table WAS registered, DROP TABLE already removed a
    * managed table's data, and an EXTERNAL table's data (wherever it
    * lives — including a namesake directory at the default path) is
    * someone else's: deleting it here would destroy a bystander, so
    * that case is left to saveAsTable's own collision error.
    */
  private def dropTableAndLocation(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val wasRegistered = spark.catalog.tableExists(table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    if (!wasRegistered) {
      val loc = new Path(spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  def writeBucketedMirror(df: DataFrame, table: String,
                          buckets: Int = 32): Unit = {
    dropTableAndLocation(df, table)
    df.write.bucketBy(buckets, "bl").sortBy("bl")
      .format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** Write the `(t, chan)` bucketed mirror — the CANONICAL layout
    * for the composed preprocess chain (SCALE.md "Layout": removes
    * ALL of Van Vleck's exchanges because equal (t, ant, chan)
    * implies equal (t, chan), so the bucket clustering satisfies the
    * σ aggregate, the σ joins and the chain's up-front spread; with
    * the fused RFI stage the whole chain plans ONE corpus-scale
    * exchange, RFI's `bl`). Use
    * [[writeBucketedMirror]] (`bl`) instead for RFI-/occupancy-
    * dominated jobs — the two keys are mutually exclusive layouts,
    * which is why both writers exist.
    */
  def writeTimeChanMirror(df: DataFrame, table: String,
                          buckets: Int = 32): Unit = {
    dropTableAndLocation(df, table)
    // repartition on the BUCKET columns with numPartitions = buckets:
    // repartition's HashPartitioning (pmod(murmur3(t, chan), n)) IS
    // Spark's bucket-id function, so each write task holds exactly one
    // bucket — the write (sort + encode) parallelises across `buckets`
    // tasks and emits exactly one file per bucket, where the previous
    // shape left the whole sort+write on however many tasks the
    // upstream happened to have (ONE, over a single-split source —
    // the mirror build was a single-threaded 600 k-row sort at sf0.1,
    // and at real scale a task-count × buckets small-file explosion).
    // Row content, bucket assignment and per-file sort order are
    // unchanged — the mirror is byte-compatible for every reader.
    df.repartition(buckets, col("t"), col("chan"))
      .write.bucketBy(buckets, "t", "chan").sortBy("t", "chan")
      .format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** Write a document frame bucketed+sorted on the packer's window
    * key — `seqPack` partitions its window by `source` and orders by
    * `doc_id`, so a (source)-bucketed, (source, doc_id)-sorted table
    * serves the packer with NEITHER an exchange NOR a sort: the scan's
    * own output partitioning/ordering satisfies the window's required
    * distribution. The doc-side twin of [[writeTimeChanMirror]].
    */
  def writeSourceDocMirror(df: DataFrame, table: String,
                           buckets: Int = 8): Unit = {
    dropTableAndLocation(df, table)
    // same bucket-aligned repartition as [[writeTimeChanMirror]]:
    // one write task per bucket, exactly one file per bucket (the
    // unaligned shape wrote up to tasks × buckets files)
    df.repartition(buckets, col("source"))
      .write.bucketBy(buckets, "source").sortBy("source", "doc_id")
      .format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** Write a frame as the parquet mirror of the uvfits sink: partitioned
    * by coarse channel (mirrors one-gpubox-per-file granularity and the
    * picket-fence fan-out, /root/reference/src/cli.rs:1524-1574).
    */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("cc").parquet(path)
}
