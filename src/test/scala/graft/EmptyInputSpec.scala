package graft

import org.apache.spark.sql.functions._

/** Degenerate-input hardening: every operator must return an EMPTY
  * result — not throw — on empty tables. At 100 TB this is the daily
  * case, not the corner: an empty date partition, a source with no new
  * files, a filter that matched nothing upstream. The spec materializes
  * a zero-row copy of every table (real schemas, no rows) and drives
  * representative entries from each family through it.
  */
class EmptyInputSpec extends SparkSpec {

  /** Zero-row tables with the production schemas. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_").toString
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events: write with the engine-facing µs schema (the ns→long legacy
    // path only applies to the driver-generated files)
    Tables(spark, sfDir).events.limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("relational, dedup, ANN, text, and pipeline entries all survive empty tables") {
    val entries = Seq(
      "q1_agg", "q7_topk", "q15_rollup", "q20_sessionize", "q40_funnel",
      "q45_quantile_sketch", "q48_scd2", "q50_window_countd", "q51_resample",
      "d1_dedup_exact", "d2_dedup_minhash", "d4_ngram_jaccard",
      "d7_dedup_editdist", "s1_ann_topk", "s2_ann_lsh",
      "t2_quality", "t8_vocab", "t15_stratified_sample", "t16_lm_surprisal",
      "t17_domain_mix", "m2_media_stats", "m3_frame_sample",
      "q55_concurrency", "q57_zorder", "q58_sliding_window",
      "q59_skew_report", "q60_variant", "g1_pagerank", "g2_triangles",
      "g3_shortest_path", "t18_boilerplate",
      // round-5 additions: containment dedup, resize, upsert, bucketed
      // join, count-min, dedup index — all must survive zero-row inputs
      "d9_containment", "m4_resize", "q67_upsert", "q68_bucketed_join",
      "q66_countmin", "q65_dedup_index",
      // round-6 additions: CDC diff, format round-trip, sequence
      // patterns, incremental aggregate, audio stats, hybrid retrieval
      "q69_cdc", "q70_format_roundtrip", "q71_seq_pattern",
      "q72_incr_agg", "m5_audio_features", "s7_hybrid_search",
      "a9_state_modified",
      // round-8 continuation: SQ ANN, mix apply, CCNet buckets,
      // boilerplate strip, trade-graph components
      "s10_ann_sq", "p2_mix_apply", "t24_ccnet_buckets",
      "t25_boilerplate_strip", "g4_components", "t26_wordpiece",
      "a10_freshness",
      // round-9 additions: semantic dedup retention, fuzzy decontam,
      // MMR re-rank, temperature mix plan, model unit tests
      "d10_semdedup", "t27_fuzzy_decontam", "s11_mmr",
      "p3_temperature_mix", "a11_unit_tests",
      // round-9 batch 2: span dedup, range search, communities,
      // two-phase anneal mix
      "d11_span_dedup", "s12_range_search", "g5_communities",
      "p4_anneal_mix",
      // round-9 batch 3: ordered-set aggs, filtered ANN, k-core, seeds,
      // DSIR selection, curriculum order, audio dedup
      "q73_ordered_set", "s13_filtered_ann", "g6_kcore", "a12_seeds",
      "t28_dsir", "p5_curriculum", "m8_audio_dedup",
      // round-9 batch 4: recall report, model contracts, fertility
      "s14_recall_eval", "a13_contracts", "t29_fertility",
      // waves 5–7: line/incremental dedup, LSH calibration, retention
      // policies, epoch plan, packing, splits, dataset card, repetition
      // filter, PII v2, kNN join, degree report, SCD2 snapshot model
      "d12_line_dedup", "d13_lsh_calibration", "d14_retention_policies",
      "d15_incremental_dedup", "p6_epoch_plan", "p7_pack_chunks",
      "p8_split_assign", "p9_dataset_card", "t30_repetition_filter",
      "t31_pii_redact", "s15_knn_join", "g7_degree_report",
      "a14_snapshot",
      // round-10 additions: token-budget selection, per-source cap
      "p10_token_budget", "t32_domain_cap",
      // trained and exact ANN indexes: IVF, k-NN vote, multi-probe, PQ,
      // IVF-PQ (an empty corpus trains zero centroids)
      "s3_ann_ivf", "s4_knn_label", "s5_ann_multiprobe", "s6_ann_pq", "s9_ivfpq")
    val failures = entries.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, emptyDir).collect()
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(failures.isEmpty, s"entries threw on empty input:\n${failures.mkString("\n")}")
  }

  test("funnel and report entries keep their row contract on empty input") {
    // p1 emits its 5 stage rows (all zero) even over an empty corpus —
    // a report with missing rows breaks downstream schema expectations
    val p1 = graft.ops.PipelineOps.p1_curation_funnel(spark, emptyDir).collect()
    assert(p1.length == 5 && p1.forall(_.getAs[Long]("n_docs") == 0L))
    val q40 = graft.queries.Relational.q40_funnel(spark, emptyDir).collect()
    assert(q40.length <= 1)
    // the recall contracts keep their one row: no queries, no k, and no
    // recall to judge
    Seq("s3_ann_ivf", "s6_ann_pq", "s9_ivfpq").foreach { name =>
      val rows = SparkEntry.queries(name)(spark, emptyDir).collect()
      assert(rows.length == 1, name)
      assert(rows.head.getAs[Long]("n_queries") == 0L && rows.head.getAs[Long]("k") == 0L, name)
      assert(rows.head.isNullAt(rows.head.fieldIndex("recall_ok")), name)
    }
  }

  test("component labeling handles an empty edge list") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val res = graft.ops.Dedup.components(empty)
    val star = graft.ops.Dedup.starContraction(empty, checkpointDir = None)
    assert(res.converged && res.labels.isEmpty)
    assert(star.converged && star.labels.isEmpty)
  }
}
