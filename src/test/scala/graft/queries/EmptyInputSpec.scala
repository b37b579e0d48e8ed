package graft.queries

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, Tables}

/** Graceful-degradation contract: every operator must run (not crash)
  * on EMPTY tables with the production schema — the daily-incremental
  * deployment regularly sees empty arrival slices, and an operator that
  * throws on zero rows poisons the whole pipeline run. Global-aggregate
  * queries may legitimately return their one summary row; everything
  * else must return zero rows. */
object EmptyInputSpec {
  lazy val dir: String = {
    val spark = graft.SparkSpec.spark
    val d = Files.createTempDirectory("graft-empty").toString
    Tables.names.foreach { t =>
      spark.read.parquet(s"${graft.SparkSpec.Sf}/$t.parquet")
        .limit(0).write.parquet(s"$d/$t.parquet")
    }
    d
  }
}

class EmptyInputSpec extends SparkSpec with BeforeAndAfterAll {

  override def afterAll(): Unit =
    try removeDirectory(EmptyInputSpec.dir) finally super.afterAll()

  // representative slice of every operator family: dedup, LSH, ANN,
  // quantized, text, events, windows, joins, sketches, SQL front ends
  private val names = Seq(
    "p01_exact_dedup", "p02_minhash_neardup", "p03_simhash_fingerprint",
    "p04_ann_cosine_topk", "p11_events_sessions", "p15_asof_join",
    "p28_token_shards", "p32_dup_clusters", "p36_incremental_dedup",
    "p40_hll_distinct", "p42_ann_quantized", "p43_vocab_oov",
    "p50_interval_join_binned", "p51_lm_fluency", "p52_containment_dedup",
    "p53_kmeans_cells", "p54_sliding_window",
    "p62_bpe_merges", "p63_snapshot_diff", "p64_bpe_by_lang",
    "p65_incremental_neardup", "p66_bpe_apply", "p67_temperature_mix",
    "p82_soft_dedup_weights", "p83_quality_sampling",
    "p84_hourly_anomaly", "p85_upsert_latest", "p86_image_resize",
    "p89_table_profile", "p90_fk_discovery", "p92_decontaminate",
    "p94_semdedup_prune", "p95_tokenizer_fertility", "p96_knn_label_eval",
    "p97_weighted_sample", "p98_leakage_free_split",
    "p99_provenance_reps", "p101_source_mirror", "p103_nb_calibration",
    "p104_ann_multiprobe", "p105_training_order", "p106_perplexity_by_lang",
    "p108_novelty_curve", "p113_dup_run_lengths", "p114_run_strip",
    "p131_substring_strip", "p133_substring_contam", "p134_contam_surgery",
    "p118_source_scorecard", "p120_budget_allocation", "p121_freq_spectrum",
    "p122_cusum_drift", "p123_drift_changepoint",
    "p124_psi_baseline_drift",
    "q19_agg_group", "q30_top_revenue", "q53_topk_native",
    "s08_sql_agg_groupby", "s15_sql_cte_window",
    "s25_sql_small_qty_revenue", "s28_sql_pricing_summary")

  names.foreach { name =>
    test(s"$name runs on empty tables") {
      val df = Relational.queries.orElse(Pipeline.queries)
        .orElse(Dialect.queries)(name)(spark, EmptyInputSpec.dir)
      val n = df.count()
      // global aggregates produce a single summary row; nothing else may
      assert(n <= 1, s"$name returned $n rows on empty input")
    }
  }

  test("p132 keeps its full four-policy grid on empty tables, all zeros") {
    val rows = Pipeline.queries("p132_strip_policy_matrix")(
        spark, EmptyInputSpec.dir).collect()
    assert(rows.length == 4, s"one row per policy, got ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 0L &&
        r.getAs[Long]("n_docs_touched") == 0L &&
        r.getAs[Long]("n_tokens_dropped") == 0L &&
        r.isNullAt(r.fieldIndex("drop_frac")),
        s"empty corpus row must be zeros with NULL frac: $r")
    }
  }

  test("p87_ref_integrity audits empty tables as zero orphans, not a crash") {
    val rows = Pipeline.queries("p87_ref_integrity")(spark, EmptyInputSpec.dir)
      .collect()
    // the audit's contract is one summary row PER category, always
    assert(rows.length == 2)
    rows.foreach(r => assert(r.getAs[Long]("n_orphans") == 0L))
  }

  test("p100_embedding_drift reports the fixed cell grid at zero drift") {
    val rows = Pipeline.queries("p100_embedding_drift")(
      spark, EmptyInputSpec.dir).collect()
    // the monitor's contract is one row per codebook cell, always —
    // a dashboard reading it never sees a vanishing series
    assert(rows.length == Pipeline.KmeansK)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_prev") == 0L)
      assert(r.getAs[Long]("n_next") == 0L)
      assert(r.getAs[Double]("psi") == 0.0)
    }
  }

  test("p125_ann_ivf2 reports the fixed cell grid with zero members") {
    val rows = Pipeline.queries("p125_ann_ivf2")(
      spark, EmptyInputSpec.dir).collect()
    // same grid contract as p100: one row per codebook cell, always —
    // an empty corpus floors the corpus-scaled K at IvfKFloor
    assert(rows.length == Pipeline.IvfKFloor.toInt)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_flat") == 0L)
      assert(r.getAs[Long]("n_twolevel") == 0L)
      assert(r.getAs[Long]("n_agree") == 0L)
    }
  }

  test("p107_padding_audit reports both strategies at zero, null fraction") {
    val rows = Pipeline.queries("p107_padding_audit")(
      spark, EmptyInputSpec.dir).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("arrival", "length_sorted"))
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
      assert(r.isNullAt(4), "waste fraction must be NULL, not a 0/0")
    }
  }

  test("p128_index_staleness keeps its four-status grid at zero") {
    val rows = Pipeline.queries("p128_index_staleness")(
      spark, EmptyInputSpec.dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("retired", "new", "changed", "unchanged"))
    rows.values.foreach { r =>
      assert(r.getLong(1) == 0L && r.isNullAt(2),
        "an empty diff must census zero with NULL drift")
    }
  }

  test("p126/p127/p129/p130/p135/p136 flag and retrieve nothing from an " +
      "empty corpus") {
    Seq("p126_semantic_decontam", "p127_rrf_fusion",
        "p129_rrf_ivf_audit", "p130_contam_by_source",
        "p135_rrf_ivf_serving", "p136_semantic_decontam_ivf").foreach { q =>
      assert(Pipeline.queries(q)(spark, EmptyInputSpec.dir).count() == 0L,
        s"$q invented rows from an empty corpus")
    }
  }

  test("p109_decontam_release reports all three stages at zero") {
    val rows = Pipeline.queries("p109_decontam_release")(
      spark, EmptyInputSpec.dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("train_before", "train_after", "dropped"))
    rows.values.foreach { case (d, t) => assert(d == 0L && t == 0L) }
  }

  // p137 is p110 on the IVF-served screen — the empty-corpus grid
  // contract is identical (an empty corpus has zero cells and zero
  // flags on BOTH substrates), so both names run the same assertions.
  Seq("p110_health_report", "p137_health_report_ivf").foreach { hr =>
  test(s"$hr keeps its ten rows; absent checks stay NULL") {
    val rows = Pipeline.queries(hr)(
      spark, EmptyInputSpec.dir).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows.size == 10)
    // contamination screens COUNT flagged docs: an empty corpus has
    // zero flags, a defined healthy value — not an absent check
    assert(rows("lexical_contam_docs").contains(0.0))
    assert(rows("semantic_contam_docs").contains(0.0))
    // p133's screen SUMs the grid's 0/1 flag: an EMPTY corpus has no
    // grid at all, so the check is NULL (no defined value) — unlike
    // p92/p126 whose COUNT of an empty flag set is a healthy 0
    assert(rows("substring_contam_docs").isEmpty,
      "no train grid at all -> the verbatim-leak sum is NULL")
    // zero-count checks report 0.0 (healthy); undefined ones stay NULL
    assert(rows("feed_anomaly_cells").contains(0.0))
    assert(rows("cusum_drift_alarms").isEmpty,
      "no hourly series at all -> the drift sum is NULL, not healthy-0")
    assert(rows("psi_window_alarms").isEmpty,
      "no windows at all -> the PSI alarm sum is NULL, not healthy-0")
    assert(rows("index_orphans").contains(0.0))
    assert(rows("dedup_index_recall").isEmpty,
      "recall of an empty corpus must be NULL, not a number")
  }
  }

  test("p115_skew_audit keeps its domain grid: zero counts, NULL skew") {
    val rows = Pipeline.queries("p115_skew_audit")(
      spark, EmptyInputSpec.dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ==
      Pipeline.SkewDomains.map { case (t, c) => s"$t.$c" }.toSet)
    rows.values.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L &&
        r.getLong(3) == 0L)
      assert(r.isNullAt(4) && r.isNullAt(5),
        "hot key and skew of an empty domain must be NULL")
    }
  }

  test("p119_dedup_savings keeps its singleton row at zero") {
    val rows = Pipeline.queries("p119_dedup_savings")(
      spark, EmptyInputSpec.dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L &&
      (1 to 4).forall(i => rows(0).getLong(i) == 0L))
  }

  test("p117_dedup_agreement keeps its six-row matrix at zero") {
    val rows = Pipeline.queries("p117_dedup_agreement")(
      spark, EmptyInputSpec.dir).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      (2 to 6).foreach(i => assert(r.getLong(i) == 0L))
    }
  }

  test("p116_lsh_planner is corpus-independent: full grid on empty input") {
    val rows = Pipeline.queries("p116_lsh_planner")(
      spark, EmptyInputSpec.dir).collect()
    assert(rows.length == 54)
    assert(rows.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
  }

  test("p111_dedup_threshold_curve keeps its five-threshold grid at zero") {
    val rows = Pipeline.queries("p111_dedup_threshold_curve")(
      spark, EmptyInputSpec.dir).collect()
      .map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(0.5, 0.6, 0.7, 0.8, 0.9))
    rows.values.foreach(v => assert(v == (0L, 0L, 0L)))
  }

  test("p112_dup_spectrum keeps its width grid, null fractions") {
    val rows = Pipeline.queries("p112_dup_spectrum")(
      spark, EmptyInputSpec.dir).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Pipeline.SpectrumWidths.toSet)
    rows.values.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L &&
        r.getLong(4) == 0L && r.getLong(5) == 0L)
      assert(r.isNullAt(3) && r.isNullAt(6),
        "fractions of an empty corpus must be NULL, not a 0/0")
    }
  }

  test("p102_dataset_card emits its fixed sections with zero counts") {
    val rows = Pipeline.queries("p102_dataset_card")(
      spark, EmptyInputSpec.dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // census/quality/dedup/contamination sections always present;
    // per-value share sections legitimately vanish with the corpus
    assert(rows.contains(("corpus", "n_docs")))
    assert(rows(("corpus", "n_docs")).getAs[Long]("n") == 0L)
    assert(rows(("dedup", "near_dup_docs")).getAs[Long]("n") == 0L)
    assert(rows(("contamination", "contaminated_docs")).getAs[Long]("n") == 0L)
  }
}
