package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans for representative queries and
  * grep the properties SCALE.md claims (pushdown, broadcast joins,
  * exchange counts, codegen spans) into PLANS.md.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.sessionFor("8")
    // AQE stays ON in production (Bench); disabled here only so the
    // static executedPlan prints its WholeStageCodegen annotations
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"

    val picks = Seq("q_p1_sel_time", "q_f6_set_flags", "q_c1_cable",
      "q_c6_calibration", "q_a1_avg", "q_c5_van_vleck",
      "q_d2_minhash_lsh", "q_sim2_ann_lsh", "q_sim3_ann_ivf",
      "q_e3_asof_join", "q_h3_top_revenue", "q_h1_pricing_summary",
      "q_t2_quality", "q_t5_tfidf", "q_c4b_passband_mwax",
      "q_c2b_geometry_app", "q_h6_forecast_revenue",
      "q_t4_fingerprint", "q_t7_repetition", "q_d7_boilerplate",
      "q_s2b_metafits_pipeline", "q_r1b_strategy", "q_c2c_apparent_uvw",
      "q_t10_chunk_windows", "q_t11_contamination",
      "q_t12_stratified_sample", "q_t13_bpe_pairs",
      "q_d8_repeated_spans", "q_d9_source_overlap",
      "q_m5_phash_neardup", "q_d10_span_clean", "q_r1c_background",
      "q_r1d_gaussian_bg", "q_t14_bigram_nll", "q_sim5_kmeans",
      "q_sim6_semdedup", "q_t15_seq_pack", "q_t16_gopher_filter",
      "q_t19_length_profile", "q_emb_pipeline", "q_e6_funnel",
      "q_t18_bpe_apply", "q_t20_perceptron", "q_t20b_perceptron_apply",
      "q_e7_retention", "q_t21_dsir", "q_curation_pipeline",
      "q_r1e_rms_flaggers", "q_pp_full_preprocess",
      "q_pp3_preprocess_avg", "q_d4_ngram_jaccard", "q_sim8_ann_recall",
      "q_d11_skew_lsh", "q_sim9_ann_lsh_multi", "q_sim10_ann_ivfpq",
      "q_d12_minhash_accuracy", "q_d13_bloom_dedup",
      "q_t22_bm25", "q_t23_mix_temperature",
      "q_pp4_mirror_preprocess", "q_sim11_ann_pq_trained",
      "q_sim12_ann_ivfpq_trained", "q_sim13_ann_ivfpq_residual",
      "q_sim14_ann_ivfpq_rerank", "q_sim15_ann_residual_rerank",
      "q_k1e_mirror_uvfits_order", "q_k1_uvfits_order",
      "q_k1f_mirror_serve_order", "q_sim16_ann_staleness",
      "q_k3_mwaf_bitmask", "q_d14_lsh_hot_cap",
      "q_sim17_ann_rebalance", "q_d6_dup_clusters",
      "q_d15_skew_clusters", "q_d5_embedding_neardup",
      "q_sim18_ann_multi_repair", "q_sim19_ann_maintenance",
      "q_curation_serve")

    /** Execute the plan and return the records written by each
      * shuffle exchange, in plan-tree order. Running the
      * executedPlan's own RDD (not a fresh df.write, which would build
      * a new QueryExecution) populates THIS tree's SQL metrics.
      */
    def exchangeRecords(
        df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val qe = df.queryExecution
      qe.executedPlan.execute().count()
      qe.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec =>
          e.metrics.collectFirst {
            case (_, m) if m.name.exists(_.contains("records written")) =>
              m.value
          }.getOrElse(-1L)
      }
    }

    /** Build + run a gate at `dirX` inside one [[Profile]] window, so
      * the tally covers the WHOLE lifecycle: construction runs eager
      * checkpoints/collects, execution runs the final plan. The
      * in-plan audit above sees only the FINAL frame's tree, which is
      * blind to checkpoint-severed iteration (connectedComponents
      * eagerly localCheckpoints every round, so d6/d15 reported "0
      * data shuffles" while the real per-round join+aggregate
      * exchanges ran behind the checkpoints). Every stage that writes
      * shuffle output is one executed exchange map-stage, loops and
      * driver-side isEmpty probes included; the window's closing
      * drain sentinel is one more (a partial count, one row per
      * partition), as this tally has always counted it. Returns
      * (per-exchange records of the final plan, executed shuffle
      * stages, shuffled records, jobs).
      */
    val profile = Profile.attach(spark)
    def measureAt(name: String, dirX: String)
        : (Seq[Long], Int, Long, Int) = {
      val (recs, w) = profile.record(spark) {
        exchangeRecords(graft.SparkEntry.queries(name)(spark, dirX))
      }
      val shuffled = w.stages.filter(_.shuffleWriteRecords > 0)
      (recs, shuffled.size, shuffled.map(_.shuffleWriteRecords).sum,
        w.jobs.size)
    }

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (sf0.001, local[8])\n\n")
    sb.append("Generated by `graft.tools.PlanAudit`. For each " +
      "representative query: exchange count, join strategies, scan " +
      "pushdown, codegen spans — the evidence for SCALE.md's claims.\n\n")
    sb.append("Every data shuffle is additionally MEASURED at two " +
      "scale factors with 10x the input between them — " +
      "sf0.001→sf0.01 for the vis/events/TPC-H families, " +
      "sf0.01→sf0.1 for the documents/embeddings families (those " +
      "tables are flat between the two smallest SFs, so the smaller " +
      "pair would classify vacuously): an exchange whose shuffled " +
      "records grow with the input is CORPUS-scale (it will grow " +
      "1000x more at 100 TB); one whose records stay flat is " +
      "MODEL-scale (vocabulary/bucket/centroid aggregates — bounded " +
      "regardless of corpus size). A raw exchange count conflates " +
      "the two; the growth column is the honest scale signal.\n\n" +
      "Additionally, a SparkListener tallies shuffle-write stages " +
      "and records over ALL jobs a gate runs — construction, eager " +
      "checkpoints, training collects, and iterative closures " +
      "included. The in-plan audit sees only the final frame's tree " +
      "and is blind to checkpoint-severed loops (d6/d15's " +
      "connectedComponents localCheckpoints every round); the " +
      "`executed over ALL jobs` line is the true per-gate shuffle " +
      "work, with the loop-vs-final split stated.\n")
    picks.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      def n(pat: String) = java.util.regex.Pattern.quote(pat).r
        .findAllIn(plan).length
      val shuffles = n("Exchange hashpartitioning") +
        n("Exchange rangepartitioning") + n("Exchange SinglePartition")
      val bcast = n("BroadcastExchange")
      val bhj = n("BroadcastHashJoin")
      val smj = n("SortMergeJoin")
      val bnl = n("BroadcastNestedLoopJoin")
      val wsc = n("*(")
      val pushed = plan.linesIterator
        .filter(l => (l.contains("PushedFilters") && !l.contains("[]"))
          || l.contains("ReadSchema"))
        .take(3).map(_.trim.take(140)).toSeq
      sb.append(s"\n## $name\n")
      // two-SF growth classification, matched positionally (same
      // static plan at both SFs — AQE is off here). The SF pair must
      // be one where the query's INPUT actually grows: documents and
      // embeddings are flat from sf0.001 to sf0.01 (500→500 rows), so
      // the doc/embedding families measure sf0.01→sf0.1 (500→5000 /
      // 500→2000) — measuring them on the flat pair would stamp every
      // corpus-scale shuffle "model" vacuously.
      val docFamily = Seq("q_d", "q_t", "q_sim", "q_m", "q_doc",
        "q_curation", "q_emb").exists(name.startsWith)
      val (loDir, hiDir, pairLabel) =
        if (docFamily)
          ("/root/testdata/sf0.01", "/root/testdata/sf0.1",
            "sf0.01→sf0.1")
        else (dir, "/root/testdata/sf0.01", "sf0.001→sf0.01")
      val scaleNote =
        try {
          val (lo, loStages, loRecs, loJobs) = measureAt(name, loDir)
          val (hi, hiStages, hiRecs, hiJobs) = measureAt(name, hiDir)
          val inPlanStages = hi.length
          // loop-vs-final split: stages beyond the final plan's own
          // exchanges ran during CONSTRUCTION — eager checkpoints,
          // training collects, iterative closures. The in-plan audit
          // alone under-reports any gate with a checkpoint-severed
          // loop (d6/d15's connectedComponents).
          val execNote =
            Some(s"- executed over ALL jobs (loops/checkpoints " +
              s"included): $loStages shuffle stages / $loRecs rows / " +
              s"$loJobs jobs at lo; $hiStages / $hiRecs / $hiJobs at " +
              s"hi — final plan itself has $inPlanStages exchanges, " +
              s"so ${(hiStages - inPlanStages).max(0)} stage(s) ran " +
              s"behind construction/iteration\n")
          val growth =
            if (lo.length == hi.length && lo.nonEmpty) {
              val tagged = lo.zip(hi).map { case (a, b) =>
                val ratio = if (a > 0) b.toDouble / a else
                  (if (b > 0) Double.PositiveInfinity else 1.0)
                val cls = if (ratio >= 3.0) "corpus" else "model"
                f"$cls(${a}→$b)"
              }
              val nCorpus = tagged.count(_.startsWith("corpus"))
              Some(s"- shuffle records $pairLabel " +
                s"[${tagged.mkString(", ")}] — $nCorpus corpus-scale, " +
                s"${tagged.length - nCorpus} model-scale\n")
            } else if (lo.isEmpty) None
            else Some(s"- shuffle growth: plan shape differs across " +
              s"SFs (${lo.length} vs ${hi.length} exchanges) — not " +
              "positionally comparable\n")
          // total executed-records growth classifies the LOOP cost
          // too (positional per-exchange growth can't see it)
          val loopGrowth =
            if (loRecs > 0)
              Some(f"- executed-records growth $pairLabel: " +
                f"${hiRecs.toDouble / loRecs}%.1fx " +
                s"(${if (hiRecs.toDouble / loRecs >= 3.0) "corpus"
                else "model"}-scale in total)\n")
            else None
          Some(growth.getOrElse("") + execNote.getOrElse("") +
            loopGrowth.getOrElse(""))
        } catch {
          case e: Exception =>
            Some(s"- shuffle growth measurement failed: " +
              s"${e.getMessage.linesIterator.next().take(80)}\n")
        }
      sb.append(s"- data shuffles: $shuffles  (broadcast exchanges: " +
        s"$bcast)\n")
      scaleNote.foreach(sb.append)
      sb.append(s"- joins: broadcast-hash=$bhj sort-merge=$smj " +
        s"broadcast-NL=$bnl\n")
      sb.append(s"- WholeStageCodegen spans: $wsc\n")
      if (pushed.nonEmpty)
        sb.append(pushed.map(p => s"- $p").mkString("", "\n", "\n"))
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
