package graft

import graft.core.Memo
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs the headline queries (one representative
  * per operator family; SPARK_GRAFT_BENCH_ALL=1 runs everything)
  * against SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query
  * seconds. Results are fully materialized through a noop sink
  * (count() would let Catalyst skip sorts/projections and
  * under-report).
  *
  * Variance control: the whole suite runs SPARK_GRAFT_BENCH_REPS
  * times (default 3) and each query reports its MEDIAN across passes.
  * Repping at suite granularity (not per query) keeps every pass
  * structurally identical to a single-shot run - the session-shared
  * signature store is built by the first dedup query of the pass and
  * reused by the rest, exactly as in production - while the
  * between-pass memo release makes each pass pay the same cold-store
  * cost. Single-shot numbers on this box swing ±50% per query with
  * zero plan change; the median is what round-over-round comparisons
  * can trust. `queries_min` carries the per-query minimum as well:
  * contention can only add time, so when an entire run lands on a busy
  * box (all three medians inflated), the min is the number that still
  * tracks the plan-implied cost. Failed queries are listed under
  * `failed` and excluded from all stats.
  *
  * Scaling anchor: the same suite also runs once (single pass) at a
  * second scale factor (SPARK_GRAFT_SF_DIR2, default the sf0.01
  * sibling of the primary dir) so each query carries a visible
  * scaling slope, not just one point. The generator-driven THIRD
  * anchor (~10x) takes the per-query MIN over SPARK_GRAFT_BENCH_SF3_REPS
  * passes (default 2): r9's round was defined by a single-pass sink
  * outlier (96s driver vs 6.9s quiet, same code) that two passes
  * would have exposed as noise.
  */
object Bench {

  val headline: Seq[String] = Seq(
    // streamsum core: full pipeline + the cache/query workhorses
    "ss_pipeline_e2e", "ss_transform", "ss_cache_count", "ss_cache_lastn",
    "ss_q_counts_for_subj_action", "ss_q_topk_per_subj",
    "ss_q_sort_variants", "ss_undo_lastn",
    // streaming faces
    "ss_stream_count_sink", "ss_stream_lastn_sink", "ss_stream_lsh_cand",
    // serving: 20 bucket-pruned point reads through the facade
    "ss_sink_point_read",
    // analytics
    "q1_agg", "q3_join_agg", "q5_multijoin", "q_window", "q_sessionize",
    "q_corr", "q_spearman", "q_corr_events", "q_spearman_events",
    "q_asof_join", "q_attribution", "q_range_join", "q_resample",
    "q_ewma", "q_holt", "q_holt_winters", "q_forecast_eval", "q_autocorr", "q_pacf", "q_anomaly",
    "q_funnel", "q_cohort", "graph_memo_build", "q_pagerank", "q_ppr", "q_hits",
    "q_decay_count", "q_trending", "q_markov", "q_markov2", "ss_stream_ewma",
    "q_paths", "q_seasonality", "q_stl", "q_changepoint", "q_cusum", "q_psi_drift",
    "q_histogram", "q_gini", "q_lorenz", "q_mannkendall", "q_mad", "q_trimmed_mean", "q_theilsen",
    "q_rfm",
    "q_skyline", "q_grouping_sets", "q_seq_pattern",
    "q_triangles", "q_kcore", "q_ktruss", "q_linkpred", "q_lpa", "q_xcorr",
    "q_session_overlap",
    "q_concomp", "q_bfs_hops", "q_degree_dist", "q_assortativity",
    "q_dtw", "q_burstiness", "q_benford", "q_survival",
    "q_markov_entropy", "pipe_curriculum",
    "q_katz", "q_lcc", "q_survival_logrank", "ann_knn_join_mp",
    "q_runs_test", "q_modularity", "q_diameter", "q_chisq", "q_abtest",
    "q_mannwhitney", "q_ks_test", "q_kruskal", "q_dunn",
    "q_periodogram", "q_harmonic", "q_betweenness", "q_transitivity", "q_stickiness",
    // training-data pipeline
    "dd_exact", "dd_minhash_lsh", "dd_edit_verify", "dd_ngram_jaccard", "dd_jaccard_prefix",
    "dd_jaccard_routed", "dd_lsh_eval", "dd_lsh_curve",
    "dd_containment", "dd_cross_dedup", "dd_simhash", "dd_simhash_route", "mm_ahash_route",
    "dd_simhash_eval",
    "dd_embed_cosine", "dd_semantic", "dd_semantic_eval", "dd_semantic_mp",
    "dd_semantic_dial", "emb_mmd", "emb_mmd_rbf", "emb_energy",
    "ann_topk_brute", "ann_topk_quant", "ann_lsh_bucketed", "ann_ivf",
    "ann_ivf_quant", "ann_ivf_adaptive", "ann_ivf_pq", "ann_knn_join",
    "ann_knn_join_h2",
    "ann_mmr", "ann_mmr_ivf", "ann_range", "ann_range_h2",
    "q_sax", "q_sax_word", "txt_heaps", "txt_novelty", "pipe_dataset_card",
    "dd_route_stats", "dd_cluster_stats",
    "q_hll_distinct", "q_hll_sliding", "q_cms_topk",
    "q_cms_sliding", "q_cms_join_card", "q_cms_f2", "q_qtile_sketch",
    "q_ddsketch_drift", "q_ddsketch_sink",
    "q_quantile_exact", "q_qtile_sliding", "q_equidepth", "q_equidepth_map",
    "q_kmv_jaccard", "q_kmv_retention",
    // production (sketch-only) faces next to their adjunct-bearing
    // twins: the delta IS the cost of the exact adjunct
    "q_hll_distinct_prod", "q_hll_sliding_prod", "q_cms_topk_prod",
    "q_cms_sliding_prod", "q_cms_join_card_prod", "q_cms_f2_prod",
    "q_kmv_jaccard_prod", "q_kmv_retention_prod",
    "txt_stats", "txt_readability", "txt_fertility", "txt_fingerprint", "txt_repetition",
    "txt_bpe_learn", "txt_keyphrase", "txt_pmi", "txt_jsd_drift",
    "txt_bpe_encode", "txt_bm25", "q_hybrid_rrf", "q_retrieval_eval",
    "txt_bigram_nll", "txt_backoff_nll", "txt_kn_nll", "txt_tfidf", "txt_entropy",
    "txt_zipf", "txt_vocab_coverage",
    "mm_binary_stats", "mm_bmp_decode", "mm_resize", "mm_ahash_pairs", "mm_phash",
    "mm_wav_decode",
    "mm_png_decode", "mm_jpeg_decode", "mm_avi_frames", "mm_avi_av",
    "mm_scene_cut", "mm_audio_pitch", "mm_sobel", "mm_gif_decode",
    "mm_histeq", "mm_vad", "mm_gif_anim", "mm_mel", "mm_mfcc",
    "mm_caption_consistency",
    "pipe_corpus_clean",
    "pipe_decontaminate", "pipe_decont_bloom", "pipe_dedup_apply",
    "pipe_dedup_keep_best",
    "pipe_quality_gate", "pipe_quality_prune", "pipe_qclf_score",
    "pipe_source_cap", "pipe_embed_prune", "pipe_repeat_upsample",
    "pipe_token_budget", "pipe_pack_tokens", "pipe_pack_stats",
    "dd_dup_spans",
    "pipe_span_scrub", "pipe_sample_weighted", "pipe_layout_zorder",
    "txt_phrase_merge")

  /** The headline queries whose only input is the events table; the
    * generator-driven third scale anchor runs these plus
    * `corpusHeadline` (r7: the corpus generators lifted the r6
    * events-only cap). The streaming faces benched here are the
    * update-mode PUBLISH path into the bucketed sink
    * (`BucketedSnapshotCacheSink`) - the deployment path's number -
    * not the Complete-mode driver memory-sink harness
    * (r6's worst anchor slope was exactly that harness artifact).
    */
  val eventHeadline: Seq[String] = Seq(
    "ss_pipeline_e2e", "ss_transform", "ss_cache_count", "ss_cache_lastn",
    "ss_q_counts_for_subj_action", "ss_q_topk_per_subj",
    "ss_q_sort_variants", "ss_undo_lastn",
    "ss_stream_count_sink", "ss_stream_lastn_sink",
    "q_sessionize", "q_session_overlap", "q_range_join", "q_resample",
    "q_attribution",
    "q_ewma", "q_holt", "q_holt_winters", "q_forecast_eval", "q_autocorr", "q_pacf", "q_anomaly",
    "q_funnel", "q_cohort", "graph_memo_build", "q_pagerank", "q_ppr", "q_hits", "q_trending", "q_markov", "q_markov2", "ss_stream_ewma",
    "q_paths", "q_seasonality", "q_stl", "q_changepoint", "q_cusum", "q_psi_drift",
    "q_seq_pattern", "q_gini", "q_lorenz", "q_mannkendall", "q_mad", "q_trimmed_mean", "q_theilsen",
    "q_sax", "q_sax_word",
    "q_triangles", "q_kcore", "q_ktruss",
    "q_linkpred", "q_lpa", "q_xcorr",
    "q_concomp", "q_bfs_hops", "q_degree_dist", "q_assortativity",
    "q_dtw", "q_burstiness", "q_benford", "q_survival",
    "q_markov_entropy",
    "q_katz", "q_lcc", "q_survival_logrank",
    "q_runs_test", "q_modularity", "q_diameter", "q_chisq", "q_abtest",
    "q_mannwhitney", "q_ks_test", "q_kruskal", "q_dunn",
    "q_corr_events", "q_spearman_events",
    "q_periodogram", "q_harmonic", "q_betweenness", "q_transitivity", "q_stickiness",
    "q_cms_topk", "q_cms_topk_prod", "q_cms_sliding", "q_cms_sliding_prod",
    "q_hll_sliding", "q_hll_sliding_prod", "q_qtile_sliding",
    "q_equidepth", "q_equidepth_map",
    "q_ddsketch_drift", "q_ddsketch_sink",
    "q_kmv_jaccard_prod", "q_kmv_retention_prod",
    "pipe_layout_zorder")

  /** Corpus (documents/embeddings) queries the generator-driven third
    * anchor covers now that `graft-docs`/`graft-embeddings` exist -
    * the r6 cap ("no corpus generator") is lifted. The similarity
    * family's cell count scales with the corpus automatically
    * (`Similarity.cellsFor`, k = ⌈√n⌉) so the measured slope is the
    * default deployment posture's, not a fixed-k blowup.
    */
  val corpusHeadline: Seq[String] = Seq(
    "dd_minhash_lsh", "dd_edit_verify", "dd_jaccard_prefix", "dd_jaccard_routed",
    // the ROUTED blocking's scaling slope at 10x docs: the router
    // prices both physical schemes' exact candidate volumes and the
    // anchor is where it must have switched to flip1's single-flip
    // enumeration (~n²/79 candidate volume vs chunk7's ~n²/18) — a
    // route regression (wrong side of the budget) or a bucket-volume
    // regression would both show here first
    "dd_simhash", "dd_simhash_route", "mm_ahash_route",
    // the asymmetric shard-vs-kept-corpus face rides the same banded
    // relation: its slope must track candidate volume, never A x B
    "dd_cross_dedup",
    // the cluster CONSUMERS (r15 verdict #2): the LSH+verify+concomp
    // machinery was anchored but the faces that ride it were not —
    // their slopes must track clusters-sized work (keeper pick,
    // anti-join apply, histogram), never corpus² work
    "dd_cluster_stats", "pipe_dedup_apply", "pipe_dedup_keep_best",
    "dd_semantic", "txt_bigram_nll",
    // embedding-drift slopes: the vectors scale with the corpus, so
    // the anchor prices the (cohort, dim/feature/projection)-state
    // folds at 10x vecs
    "emb_mmd", "emb_mmd_rbf", "emb_energy",
    "pipe_quality_gate", "ann_ivf_quant", "ann_ivf_pq", "ann_knn_join",
    "ann_knn_join_h2", "ann_knn_join_mp",
    "txt_stats", "txt_readability", "txt_fertility", "txt_keyphrase", "txt_pmi",
    "txt_jsd_drift",
    "pipe_embed_prune", "ann_mmr", "ann_mmr_ivf", "ann_range",
    "ann_range_h2",
    "txt_heaps", "txt_novelty", "pipe_dataset_card",
    "pipe_curriculum",
    "txt_bpe_encode",
    "txt_bm25", "q_hybrid_rrf", "q_retrieval_eval", "txt_backoff_nll",
    // the real-codec mapPartitions path: per-row cost must stay flat
    // as docs scale (narrow, no shuffle - the slope IS the claim)
    "mm_bmp_decode", "mm_resize", "mm_ahash_pairs", "mm_phash", "mm_png_decode",
    "mm_jpeg_decode",
    "mm_avi_frames", "mm_avi_av", "mm_scene_cut", "mm_audio_pitch",
    "mm_sobel", "mm_gif_decode", "mm_histeq", "mm_vad", "mm_gif_anim", "mm_mel",
    "mm_mfcc", "mm_caption_consistency",
    // the compressed codecs: deflate/inflate (PNG) and FDCT+Huffman
    // (JPEG) dominate, so the per-row cost claim is stronger than
    // BMP's raw-raster one
    "txt_entropy",
    // the custom bounded-heap group limit under a 10x corpus: the
    // map-side trim is what keeps the slope linear
    "pipe_source_cap",
    // the epoch upsampler: a sources-sized broadcast plan + stateless
    // admission - the explode's output volume is the target, so the
    // slope must track upsampleFactor x corpus, never worse
    "pipe_repeat_upsample",
    // the token-budget variant: same map-side trim argument, budget
    // in tokens - its cumsum window must stay on the trimmed rows
    "pipe_token_budget",
    // concat-and-chunk packing: ONE range-shuffle prefix sum + a
    // narrow segment explode - the slope must track the corpus
    "pipe_pack_tokens")

  /** One timed pass over the suite: per-query (seconds, succeeded).
    * A failed query keeps its elapsed time for the log line but is
    * marked failed so it never masquerades as a speedup in the
    * reported medians/totals (a partial execution that dies early is
    * not a timing).
    */
  private def runPass(spark: SparkSession, sfDir: String,
                      selected: Seq[(String, (SparkSession, String) =>
                        org.apache.spark.sql.DataFrame)]): Seq[(String, Double, Boolean)] =
    selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }

  private def fmtQueries(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")

  private def fmtPass(rs: Seq[(String, Double, Boolean)]): String =
    fmtQueries(rs.map { case (k, v, ok) => k -> (if (ok) v else -1.0) })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // second anchor for the scaling slope; empty string disables
    val sfDir2 = sys.env.get("SPARK_GRAFT_SF_DIR2").getOrElse {
      val sib = new java.io.File(sfDir).getParentFile
      if (sib != null && sfDir.endsWith("sf0.1")) s"$sib/sf0.01" else ""
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // unload terminated queries' state-store providers promptly: each
      // keeps its in-memory version maps loaded until a maintenance
      // cycle notices the query is gone (default 60s) - a fast sweep
      // over dozens of stateful faces otherwise carries several
      // state-sized heaps at once
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // probe hook: session confs from the environment (slope probes
    // exercising opt-in postures like graft.similarity.trainN/assign -
    // the gated correctness runs never set this, and numbers produced
    // under it are probe evidence, not the default's price)
    sys.env.get("SPARK_GRAFT_BENCH_CONF").foreach { kvs =>
      kvs.split(",").filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_BENCH_CONF entry '$kv' is not key=value")
        }
      }
    }
    // JIT/codegen warm-up on the smallest SF so per-query numbers
    // reflect steady-state execution, not first-call compilation.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    val base =
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
        SparkEntry.queries.toSeq.sortBy(_._1)
      else headline.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    // local perf iteration: run a comma-separated subset only
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").toSet
        base.filter { case (n, _) => keep.contains(n) }
      case None => base
    }
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val passes = (1 to reps).map { i =>
      Memo.releaseAll(spark) // every pass pays the same cold-memo cost
      val r = runPass(spark, sfDir, selected)
      // per-pass evidence line: lets a reader distinguish a real plan
      // regression (slow in every pass) from box contention during the
      // run (one or two outlier passes); -1.000 marks a failed query
      System.err.println(s"[bench] pass $i: ${fmtPass(r)}")
      r
    }
    // a query is "failed" if ANY pass failed - partial timings from
    // the other passes aren't comparable either
    val failed = selected.map(_._1).filter { name =>
      passes.exists(_.exists(r => r._1 == name && !r._3))
    }
    def stat(pick: Seq[Double] => Double): Seq[(String, Double)] =
      selected.collect { case (name, _) if !failed.contains(name) =>
        name -> pick(passes.flatMap(_.collectFirst {
          case (`name`, t, _) => t
        }))
      }
    // median is the headline (resists one outlier pass); min is the
    // contention-proof floor - noise only ever ADDS time, so min is
    // the closest observable to the plan-implied cost
    val results = stat(ts => ts.sorted.apply(ts.length / 2))
    val mins = stat(_.min)
    val total = results.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val pass2 =
      if (sfDir2.nonEmpty && new java.io.File(sfDir2).isDirectory) {
        Memo.releaseAll(spark)
        Some(runPass(spark, sfDir2, selected))
      } else None
    val total2 = pass2.map(_.collect { case (_, t, true) => t }.sum)
    val secondSf = pass2 match {
      case Some(r2) =>
        s""","sf2":"$sfDir2","queries_sf2":${fmtPass(r2)},"reps":$reps"""
      case None => s""","reps":$reps"""
    }
    // third anchor: a generator-driven ~10x EVENTS scale point, so the
    // scaling slope has a point ABOVE the primary sf, not just below.
    // The generated table lands as a single events.parquet file (the
    // layout every query and the streaming glob expect); only the
    // event-only headline subset runs - a loud cap, not a silent one.
    val sf3Factor = sys.env.get("SPARK_GRAFT_BENCH_SF3X")
      .flatMap(_.toIntOption).getOrElse(10)
    val reps3 = sys.env.get("SPARK_GRAFT_BENCH_SF3_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    val pass3 =
      if (sf3Factor <= 0) None
      else try {
        // Setup (generation) is timed and reported SEPARATELY so anchor
        // cost never reads as query cost. The coalesce(1) single-file
        // write and java.nio moves assume a local default FS - fine for
        // this harness, a cluster would write partitioned and skip the
        // move (documented in PLANS.md).
        val tSetup = System.nanoTime()
        val dir3 = java.nio.file.Files
          .createTempDirectory("graft_bench_sf3").toString
        def gen(fmt: String, table: String, rows: Long): Unit = {
          val tmp = s"$dir3/_gen"
          spark.read.format(fmt).option("rows", rows.toString)
            .load().coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(dir3, s"$table.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        def scaled(table: String): Long =
          spark.read.parquet(s"$sfDir/$table.parquet").count() * sf3Factor
        val rows3 = scaled("events")
        val rowsD = scaled("documents")
        val rowsV = scaled("embeddings")
        gen("graft-events", "events", rows3)
        gen("graft-docs", "documents", rowsD)
        gen("graft-embeddings", "embeddings", rowsV)
        System.err.println(
          f"[bench] sf3 setup ${(System.nanoTime() - tSetup) / 1e9}%.1fs " +
            s"(events=$rows3 docs=$rowsD vecs=$rowsV)")
        val sel3 = selected.filter(q =>
          eventHeadline.contains(q._1) || corpusHeadline.contains(q._1))
        // k scales with the corpus automatically now: the cellsFor
        // ⌈√n⌉ default replaces the manual conf retune this anchor
        // used to carry, so the benched number prices the default a
        // deployment actually gets
        // the anchor takes the per-query MIN over >=2 passes: a single
        // pass cannot distinguish a plan regression from one bad run
        // (r9's 96s-vs-6.9s sink-face outlier defined the round), and
        // noise only ever ADDS time, so min tracks the plan cost
        val r =
          try {
            val passes3 = (1 to reps3).map { i =>
              Memo.releaseAll(spark)
              val p = runPass(spark, dir3, sel3)
              System.err.println(s"[bench] sf3 pass $i: ${fmtPass(p)}")
              p
            }
            val min3 = sel3.map { case (name, _) =>
              val ts = passes3.flatMap(_.collectFirst {
                case (`name`, t, ok) => (t, ok)
              })
              val okTs = ts.collect { case (t, true) => t }
              if (okTs.isEmpty) (name, ts.map(_._1).max, false)
              else (name, okTs.min, true)
            }
            Some((rows3, min3))
          } finally spark.conf.unset("graft.similarity.cells")
        val p3 = new org.apache.hadoop.fs.Path(dir3)
        p3.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p3, true)
        r
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] sf3 anchor failed: ${e.getMessage}")
          None
      }
    val total3 = pass3.map(_._2.collect { case (_, t, true) => t }.sum)
    // executable form of the PLANS.md crossover claim: at the generated
    // anchor (real key repetition) the sketch-only sliding CMS must not
    // bench behind its exact-adjunct twin - the fixture's near-unique
    // pairs are the documented worst case, the anchor is where prod's
    // pre-distinct pays. 1.15x margin absorbs single-pass jitter.
    val sf3Check = pass3.flatMap { case (_, r3) =>
      for {
        a <- r3.collectFirst { case ("q_cms_sliding", t, true) => t }
        p <- r3.collectFirst { case ("q_cms_sliding_prod", t, true) => t }
      } yield {
        val ok = p <= a * 1.15
        if (!ok) System.err.println(
          f"[bench] CHECK FAILED: q_cms_sliding_prod ($p%.2fs) > " +
            f"adjunct ($a%.2fs) x1.15 at the generated anchor - the " +
            "prod-is-cheaper crossover regressed")
        s""","sf3_prod_le_adjunct":$ok"""
      }
    }.getOrElse("")
    val thirdSf = pass3 match {
      case Some((rows3, r3)) =>
        s""","sf3_rows":$rows3,"sf3_reps":$reps3,"queries_sf3":${fmtPass(r3)}$sf3Check"""
      case None => ""
    }
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${fmtQueries(results)},"queries_min":${fmtQueries(mins)},"sf":"$sfDir"$failedJson$secondSf$thirdSf}"""
    // best-effort tail survival for the per-query medians: the console
    // capture is a bounded TAIL, so emit them in small stderr chunks
    // right before the final stdout lines - whatever the tail window
    // covers is directly readable without the file
    val medJson = fmtQueries(results)
    medJson.grouped(1800).zipWithIndex.foreach { case (c, i) =>
      System.err.println(
        s"[bench] medians ${i + 1}/${(medJson.length + 1799) / 1800}: $c")
    }
    println(fullJson)
    // The harness that invokes this captures only a TAIL of the sbt
    // output; the full line above outgrows it once the suite passes
    // ~45 queries. Two escape hatches: (1) persist the full JSON to
    // files (repo root by default) so it can be read/diffed regardless
    // of console truncation; (2) print a compact summary as the very
    // LAST stdout line, small enough to always survive the tail.
    // The default file name is CPU-QUALIFIED (BENCH_c<cpus>.json):
    // the driver re-runs the bench at a lower core count for the
    // scaling measurement, and r16 lost all per-query data because the
    // 8-core run overwrote the 32-core BENCH.json. The plain
    // BENCH.json name is kept as a copy of the primary (32-core) run.
    val outPaths = sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) => Seq(p)
      case None =>
        val cq = s"BENCH_c$cpus.json"
        if (cpus == "32") Seq(cq, "BENCH.json") else Seq(cq)
    }
    outPaths.foreach { outPath =>
      try {
        val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
        try w.println(fullJson) finally w.close()
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    val outPath = outPaths.last
    val failedList = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total2Json = total2.map(t => f""","total_sf2":$t%.3f""").getOrElse("")
    val total3Json = total3.map(t => f""","total_sf3":$t%.3f""").getOrElse("")
    // release the per-(session, corpus) memos - the bench touched
    // multiple corpora and nothing should stay pinned - and stop the
    // session BEFORE the summary, so shutdown output cannot bury it:
    // the summary must be the run's last line
    Memo.releaseAll(spark)
    spark.stop()
    println(
      f"""{"metric":"summary","value":$total%.3f,"unit":"sec","total":$total%.3f$total2Json$total3Json,"n":${results.length},"failed":$failedList,"reps":$reps,"sf":"$sfDir","full":"$outPath"}""")
  }
}
