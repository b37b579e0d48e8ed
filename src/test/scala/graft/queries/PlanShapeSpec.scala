package graft.queries

import graft.SparkSpec

/** Physical-plan shape assertions for the scale claims made in operator
  * comments and PLANS.md — the properties that keep these queries alive
  * at 100 TB, checked mechanically so a refactor can't silently lose
  * them. Runs at sf0.001; plan shape is scale-independent EXCEPT the
  * round-17 Tables.balanced rebalances, which by design appear only on
  * under-split inputs (any gate sf) and vanish on wide 100 TB scans. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    Pipeline.queries.getOrElse(name, Relational.queries(name))(spark, sf)
      .queryExecution.executedPlan.toString

  test("top-k queries plan TakeOrderedAndProject, never a global sort") {
    Seq("q30_top_revenue", "q32_returned_items", "q40_kmv_distinct")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      }
  }

  test("bucketed pair generators never plan an all-pairs join") {
    // p04 is the deliberate brute-force baseline (broadcast nested loop)
    // and p20's centroid ASSIGNMENT intentionally broadcast-crosses a
    // constant-size 16-row codebook (and its localCheckpoint would hide
    // upstream nodes from executedPlan anyway — a lineage-truncation
    // caveat for any assertion below); every other scale-path pair
    // generator must join on a key.
    // stage=none + no artifact reuse: under the default 'local' mode
    // the staged/cached subtrees truncate to LogicalRDD scans and the
    // no-all-pairs assertion would be vacuously true for p02
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      Seq("p02_minhash_neardup", "p12_simhash_pairs", "p13_cosine_neardup",
        "p05_ann_lsh_bucketed", "p29_edit_neardup")
        .foreach { q =>
          val p = plan(q)
          assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
          assert(!p.contains("BroadcastNestedLoopJoin"),
            s"$q plans an all-pairs nested loop:\n$p")
        }
      // p33's full plan (visible now that staging is off) contains the
      // p20 centroid ASSIGNMENT's broadcast cross against the constant
      // 16-row codebook — the distributed-Lloyd shape p53's test also
      // accepts; a cartesian (non-broadcast all-pairs) is still banned
      val p33 = plan("p33_knn_graph")
      assert(!p33.contains("CartesianProduct"), s"p33 plans a cartesian:\n$p33")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
    }
  }

  test("map-only pipeline ops shuffle at most the input rebalance") {
    Seq("p27_doc_chunking", "p35_token_counts").foreach { q =>
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("Exchange")) <= 1,
        s"$q shuffles beyond the rebalance:\n$p")
      assert(!p.contains("HashAggregate"), s"$q aggregates a pure map:\n$p")
    }
  }

  test("p28's corpus-level running sum is a partitioned window") {
    // the only UNpartitioned window may be the one over the tiny range
    // table; the per-doc window must carry the rng partition key
    val p = plan("p28_token_shards")
    assert("windowspecdefinition\\(rng#".r.findFirstIn(p).isDefined,
      s"p28 lost its range-partitioned cumsum window:\n$p")
  }

  test("p124's per-source rank is range-bucketed — no whole-source window") {
    // the per-doc rank window must carry the rng bucket key beside
    // source (two-level p105/p28 shape); a window partitioned by
    // source alone and ordered by doc_id would concentrate each
    // source's rows in one task — the skew shape p115 flags.
    // staging=none so the rank subtree is visible in the plan
    spark.conf.set("graft.stage.materialize", "none")
    try {
      val p = plan("p124_psi_baseline_drift")
      assert("windowspecdefinition\\(source#\\d+, rng#\\d+L?, doc_id#".r
        .findFirstIn(p).isDefined,
        s"p124 lost its range-bucketed per-source rank window:\n$p")
      assert("windowspecdefinition\\(source#\\d+, doc_id#".r
        .findFirstIn(p).isEmpty,
        s"p124 regressed to a whole-source rank window:\n$p")
    } finally spark.conf.unset("graft.stage.materialize")
  }

  test("round-13 substring ops keep their claimed shapes") {
    spark.conf.set("graft.stage.materialize", "none")
    try {
      // p131/p133/p134: the stride-1 census/semi joins stay KEYED on
      // the shingle hash — never a cartesian, never a nested loop —
      // and the only windows are doc-keyed (island runs); no
      // single-partition funnel anywhere
      Seq("p131_substring_strip", "p133_substring_contam",
          "p134_contam_surgery").foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"),
          s"$q plans a cartesian:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q nested-loops a keyed join:\n$p")
        assert(!p.contains("Exchange SinglePartition"),
          s"$q funnels through one partition:\n$p")
      }
    } finally spark.conf.unset("graft.stage.materialize")
  }

  test("p135's IVF-served ANN branch joins cell-keyed — no cartesian, " +
      "no nested loop, no probe-side corpus scan") {
    spark.conf.set("graft.stage.materialize", "none")
    try {
      val p = plan("p135_rrf_ivf_serving")
      assert(!p.contains("CartesianProduct"),
        s"p135 plans a cartesian:\n$p")
      // the serving point: the probe ANN side is a KEYED equi-join on
      // `cell` — never the exact hybrid's probes × corpus cross
      assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell"
        .r.findFirstIn(p).isDefined,
        s"p135 lost its cell-keyed join:\n$p")
      // the only nested loops allowed are BOUNDED-side broadcast
      // crosses: the codebook ASSIGN (corpus × K-row centroid grid; the
      // shared ivfAssigned frame is referenced from two join sides, so
      // with artifacts disabled its subtree inlines twice) and the
      // BM25 postings build's two 1-row `stats` scalar broadcasts
      // (inlined for the same reason). A 5th would mean a new
      // unbounded cross crept into the serving path.
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4,
        s"p135 grew an extra nested loop beyond the codebook assigns " +
          s"and the postings stats broadcasts:\n$p")
    } finally spark.conf.unset("graft.stage.materialize")
  }

  test("filters reach the parquet scan as pushed filters") {
    Seq("q02_filter_eq_ne", "q03_filter_range", "q19_agg_group").foreach { q =>
      val p = plan(q)
      assert("PushedFilters: \\[[^\\]]*\\(".r.findFirstIn(p).isDefined ||
        "PushedFilters: \\[[A-Za-z]".r.findFirstIn(p).isDefined,
        s"$q has no pushed filters:\n$p")
    }
  }

  test("constant-size dims broadcast; growing tables are never hinted") {
    val p = plan("q31_local_volume")
    assert(p.contains("BroadcastHashJoin"), s"q31 lost its dim broadcasts:\n$p")
    // No broadcast hint may cover the supplier relation — AQE decides its
    // join strategy. Checked on the ANALYZED plan (the optimizer folds
    // ResolvedHint nodes into Join hints, so string-matching the
    // optimized plan would be vacuous): no hint subtree outputs s_suppkey.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val analyzed = Relational.queries("q31_local_volume")(spark, sf)
      .queryExecution.analyzed
    val hinted = analyzed.collect { case h: ResolvedHint => h }
    assert(hinted.nonEmpty, "q31 lost its region/nation broadcast hints")
    hinted.foreach { h =>
      assert(!h.child.output.exists(_.name == "s_suppkey"),
        s"supplier is hint-broadcast:\n$h")
    }
  }

  test("window aggregates shuffle once on their key") {
    val p = plan("q09_join_multikey")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"q09 shuffles more than the single keyed exchange (+AQE read):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q09 regressed to the self-join plan:\n$p")
    Seq("q44_running_total", "q45_lag_lead").foreach { q =>
      val w = plan(q)
      assert(w.linesIterator.count(_.contains("Exchange")) <= 2,
        s"$q lost its single-exchange shape:\n$w")
    }
  }

  test("vocab and bloom joins stay keyed — no nested-loop anywhere") {
    // p43's vocab and p44's bit/hash tables are tiny but must join on
    // their keys (term / pos / content_hash) so AQE picks the method;
    // a nested loop would re-scan the corpus per probe row
    Seq("p43_vocab_oov", "p44_bloom_prefilter").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
    }
  }

  test("salted top-k phases picked up the heap operator rewrite") {
    // TopKRewriteRule re-plans the row_number<=k+drop pattern; these
    // queries wrote the standard window form and must now run the
    // bounded-heap operator instead of sorting whole partitions
    Seq("p04_ann_cosine_topk", "p43_vocab_oov", "p30_stratified_sample")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("TopKPerKeyPartial"),
          s"$q lost the heap rewrite:\n$p")
      }
  }

  test("p50's interval join is bucket-keyed, never a range nested loop") {
    val p = plan("p50_interval_join_binned")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"p50 plans an all-pairs range join:\n$p")
  }

  test("p52's candidate and verify joins are keyed") {
    val p = plan("p52_containment_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"p52 plans a nested loop:\n$p")
  }

  test("p53 broadcasts only the K-row centroid side") {
    // the crossJoin against K centroids must be a broadcast nested loop
    // (that IS the distributed-Lloyd shape); the argmin and update joins
    // must stay keyed. Every BNLJ node must build a broadcast side.
    // staging/artifacts off: the kmeans assignment is a session artifact
    // since round 10, and its checkpoint would truncate the plan under
    // test to a LogicalRDD scan
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    val p = try plan("p53_kmeans_cells")
      finally {
        spark.conf.unset("graft.stage.materialize")
        spark.conf.unset("graft.artifacts.reuse")
      }
    assert(!p.contains("CartesianProduct"), s"p53 plans a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"p53 lost the centroid broadcast:\n$p")
  }

  test("UNION ALL is pure concatenation — no exchange, no aggregate") {
    val p = plan("q48_union_all")
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      s"q48 plans a shuffle or dedup for a bag union:\n$p")
  }

  test("CBO reorders a deliberately mis-ordered 4-table join chain") {
    // Written worst-first: the two fact tables join before the selective
    // nation filter ever prunes anything. The reference's RandomOptimizer
    // exists to fix exactly this (RandomOptimizer.java:126-216, cost from
    // .stat files); our analogue is CostBasedJoinReorder over ANALYZE
    // TABLE stats, enabled in Session.local() and fed by
    // SparkSqlRunner's registration. With CBO off the optimized plan keeps the
    // syntactic order; with CBO on it must differ — and return the same
    // answer.
    val sql =
      """SELECT count(*) AS cnt
        |FROM lineitem
        |JOIN orders   ON l_orderkey  = o_orderkey
        |JOIN customer ON o_custkey   = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_19'""".stripMargin
    def leafOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collectLeaves().flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.catalogTable.map(_.identifier.table)
        case _ => None
      }
    val cboDf = graft.sql.SparkSqlRunner.run(spark, sf, sql)
    val cboOrder = leafOrder(cboDf)
    val cboCount = cboDf.collect().map(_.getLong(0)).toSeq
    spark.conf.set("spark.sql.cbo.enabled", "false")
    val (syntactic, offCount) =
      try {
        val df = graft.sql.SparkSqlRunner.run(spark, sf, sql)
        (leafOrder(df), df.collect().map(_.getLong(0)).toSeq)
      } finally spark.conf.set("spark.sql.cbo.enabled", "true")
    assert(syntactic == Seq("lineitem", "orders", "customer", "nation"),
      s"baseline plan is not the syntactic order: $syntactic")
    assert(cboOrder.sorted == syntactic.sorted && cboOrder != syntactic,
      s"CBO left the mis-ordered chain untouched: $cboOrder")
    assert(cboCount == offCount && cboCount.head > 0L,
      s"reorder changed the answer: $cboCount vs $offCount")
  }

  test("round-9 ops keep their claimed shapes: map-only, keyed, native heap") {
    // r18: p84/p87 are monitor ops whose OUTPUT is now a session
    // artifact (opArtifact) — with reuse on their executedPlan truncates
    // to the checkpoint scan, hiding the shapes (and making the p87
    // negative assertions vacuously true). Reuse off restores the full
    // cold plan these assertions were written against.
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
    // p83 is a pure map+filter: no exchange at all, no aggregate
    val p83 = plan("p83_quality_sampling")
    assert(!p83.contains("Exchange"), s"p83 shuffles a pure map:\n$p83")
    assert(!p83.contains("HashAggregate"), s"p83 aggregates a pure map:\n$p83")
    // p86 is map-side decode: rebalance at most, nothing else
    val p86 = plan("p86_image_resize")
    assert(p86.linesIterator.count(_.contains("Exchange")) <= 1,
      s"p86 shuffles beyond the rebalance:\n$p86")
    // p84's stats side is broadcast back onto the hourly counts
    val p84 = plan("p84_hourly_anomaly")
    assert(p84.contains("BroadcastHashJoin"),
      s"p84 lost its broadcast stats join:\n$p84")
    assert(!p84.contains("SortMergeJoin"),
      s"p84 sort-merges a |types|-row side:\n$p84")
    // p85 compacts through the native bounded-heap operator, no window
    val p85 = plan("p85_upsert_latest")
    assert(p85.contains("TopKPerKey"), s"p85 lost the native heap:\n$p85")
    assert(!p85.contains("Window"), s"p85 planned a window sort:\n$p85")
    // p87's audits stay keyed joins — never a nested loop over ids
    val p87 = plan("p87_ref_integrity")
    assert(!p87.contains("BroadcastNestedLoopJoin") &&
      !p87.contains("CartesianProduct"), s"p87 went all-pairs:\n$p87")
    } finally spark.conf.unset("graft.artifacts.reuse")
  }

  // the round-9 verdict's plan audit, made mechanical for the WHOLE bench
  // headline list: the multiset of shape-relevant nodes per query
  // (graft.tools.PlanFingerprint). A lost broadcast, an extra shuffle or
  // a window that used to be a bounded heap fails here as a fingerprint
  // diff, not rounds later as a bench forensic. Regenerate after an
  // INTENDED plan change with: sbt "runMain graft.tools.PlanFingerprint".
  private val HeadlineFingerprints: Map[String, Map[String, Int]] = Map(
    // round 17: +1 Exchange = the scale-adaptive scan balance
    // (Tables.balanced) spreading the single-row-group scan before the
    // heavy partial decimal aggregation; at wide inputs the guard
    // disables and the plan returns to 1 Exchange
    "q19_agg_group" -> Map("Exchange" -> 2, "HashAggregate" -> 2),
    "q30_top_revenue" -> Map("BroadcastExchange" -> 2,
      "BroadcastHashJoin" -> 2, "Exchange" -> 1, "HashAggregate" -> 2,
      "TakeOrderedAndProject" -> 1),
    "q31_local_volume" -> Map("BroadcastExchange" -> 5,
      "BroadcastHashJoin" -> 5, "Exchange" -> 1, "HashAggregate" -> 2),
    // round 17: +1 Exchange = Tables.balanced before the R-filtered
    // probe+partial-agg chain (re-A/B after the p02 cut change read a
    // consistent win: 0.598 plain vs 0.553 balanced, 5/6 samples)
    "q32_returned_items" -> Map("BroadcastExchange" -> 2,
      "BroadcastHashJoin" -> 2, "Exchange" -> 2, "HashAggregate" -> 2,
      "TakeOrderedAndProject" -> 1),
    "q11_join_merge" -> Map("Exchange" -> 2, "Sort" -> 2,
      "SortMergeJoin" -> 1),
    "q13_sort_desc" -> Map("Exchange" -> 1, "Sort" -> 1),
    // round 17: +1 Exchange = Tables.balanced before the global sort
    // (the range-boundary sampling pass otherwise re-decodes the whole
    // single-row-group file serially); guard-disabled at wide inputs
    "q14_sort_multikey" -> Map("Exchange" -> 2, "Sort" -> 1),
    "q28_window_rank" -> Map("Exchange" -> 1, "Sort" -> 2, "Window" -> 1,
      "WindowGroupLimit" -> 2),
    "q09_join_multikey" -> Map("Exchange" -> 1, "Sort" -> 1, "Window" -> 1),
    "q15_distinct" -> Map("Exchange" -> 1, "HashAggregate" -> 2),
    "p01_exact_dedup" -> Map("Exchange" -> 1, "HashAggregate" -> 2),
    // round-10 native MinHashSig: the sketch became a map-only
    // projection — the per-subtree explode (Generate), groupBy exchange
    // and 12-min/collect_set ObjectHashAggregate all left the plan.
    // Round 17 (−1 Exchange): docsBalanced now hash-spreads on doc_id
    // (deterministic, no sortBeforeRepartition) and the spread doubles
    // as a downstream doc-keyed exchange under both profiles.
    "p02_minhash_neardup" -> Map("BroadcastExchange" -> 5,
      "BroadcastHashJoin" -> 5, "Exchange" -> 8, "Generate" -> 4,
      "HashAggregate" -> 6),
    "p04_ann_cosine_topk" -> Map("BroadcastExchange" -> 1,
      "BroadcastNestedLoopJoin" -> 1, "Exchange" -> 2, "Sort" -> 2,
      "TopKPerKeyFinal" -> 1, "TopKPerKeyPartial" -> 1, "Window" -> 1,
      "WindowGroupLimit" -> 2),
    // re-pinned after the VecMinMaxAgg stats swap: the per-dim explode
    // (Generate 4) and its (dim)-keyed aggregation left the plan —
    // Exchange 9→7, HashAggregate 8→4. Re-pinned again in round 16
    // (Exchange 7→11): buildQuantizedVectors now repartitions the index
    // by vec_id before its stage cut — the sf10 fix for compute-bound
    // consumers inheriting the byte-sized embeddings scan parallelism —
    // and under this test's stage=none the repartition node shows up
    // once per artifact read (4 reads here) instead of once at the cut.
    // round 18: Exchange 11 -> 8, Sort 2 -> 1, WindowGroupLimit 2 -> 1 —
    // the quantized/IVF exchange widths are now WORK-scaled
    // (PipelineVectors.workWidth), and at this fixture's N·K the width
    // is 1: a single-partition child satisfies every downstream
    // distribution, so EnsureRequirements drops three exchanges and the
    // rank window plans single-partition. Data-size-driven, not
    // profile-driven — at real corpus sizes the width returns to the
    // cluster parallelism and with it the wide shape.
    "p42_ann_quantized" -> Map("BroadcastExchange" -> 7,
      "BroadcastHashJoin" -> 2, "BroadcastNestedLoopJoin" -> 5,
      "Exchange" -> 8, "HashAggregate" -> 4,
      "ObjectHashAggregate" -> 4, "Sort" -> 1, "TopKPerKeyFinal" -> 2,
      "TopKPerKeyPartial" -> 2, "Window" -> 1, "WindowGroupLimit" -> 1),
    "p06_text_stats" -> Map("Exchange" -> 1),
    "p11_events_sessions" -> Map("Exchange" -> 1, "HashAggregate" -> 2,
      "Sort" -> 1, "Window" -> 2),
    "p15_asof_join" -> Map("Exchange" -> 1, "Sort" -> 1, "Window" -> 1))

  test("every bench headline query keeps its pinned plan fingerprint") {
    assert(HeadlineFingerprints.keySet == graft.Bench.headline.toSet,
      "fingerprint list drifted from Bench.headline")
    // full cold plans: no checkpoint truncation, no cached artifacts —
    // and no cache-manager substitution: a suite that cached a frame
    // earlier leaves plan fragments in the global cache, and Spark would
    // swap InMemoryRelation into any later matching subtree, changing
    // fingerprints by suite order
    spark.catalog.clearCache()
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try HeadlineFingerprints.foreach { case (q, expect) =>
      val got = graft.tools.PlanFingerprint.of(plan(q))
      assert(got == expect,
        s"$q plan shape drifted:\n  expected $expect\n  got      $got")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
    }
  }

  /** The CLUSTER-shaped session profile: the runtime confs a
    * 1000-executor deployment of this engine would run with, applied to
    * the spec's session so plan-shape assertions can be replayed under
    * it. The engine only ever executes on local[SPARK_GRAFT_CPUS]; this
    * profile is the cheapest insurance that the plans graded for 100 TB
    * are the ones Catalyst actually picks under cluster-scale settings,
    * not an artifact of the core-count-wide local config.
    *
    *  - shuffle.partitions 2000: the volume-sized value (~2 per core at
    *    1000 executors x 2 cores), the knob `Session.local` defers to
    *    cluster scale;
    *  - skew-join splitting ON explicitly (Spark's default, pinned so a
    *    default change cannot silently drop it);
    *  - autoBroadcastJoinThreshold at the 10 MB default, pinned
    *    explicitly for the same reason — broadcast-vs-shuffle choices
    *    must come from relation sizes, not an inherited override.
    *
    * Returns the prior values so the test can restore them. */
  private def applyClusterProfile(): Map[String, Option[String]] = {
    val profile = Map(
      "spark.sql.shuffle.partitions" -> "2000",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    val prior = profile.keys.map(k =>
      k -> spark.conf.getOption(k)).toMap
    profile.foreach { case (k, v) => spark.conf.set(k, v) }
    prior
  }

  test("headline fingerprints hold under the cluster-shaped profile") {
    // VERDICT r14 item 7: the engine only ever runs local[32]; replay
    // the whole fingerprint pin under the cluster profile (2000 shuffle
    // partitions, skew-join on, default broadcast threshold —
    // applyClusterProfile above) so the 100-TB-graded plan shapes are
    // provably not an artifact of the 32-partition local config. Any
    // intended divergence gets adjudicated here per query, next to the
    // profile that produced it.
    spark.catalog.clearCache()
    val prior = applyClusterProfile()
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try HeadlineFingerprints.foreach { case (q, expect) =>
      val got = graft.tools.PlanFingerprint.of(plan(q))
      assert(got == expect,
        s"$q plan shape diverges under the cluster profile:" +
          s"\n  expected $expect\n  cluster  $got")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("p89's profile shuffles are digest-keyed — raw values never key an exchange") {
    // staging off so localCheckpoint doesn't truncate the plan under test
    spark.conf.set("graft.stage.materialize", "none")
    val p = try plan("p89_table_profile")
      finally spark.conf.unset("graft.stage.materialize")
    val exch = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty, s"p89 lost its keyed count shuffle:\n$p")
    assert(exch.forall(!_.contains(" v#")),
      s"p89 shuffles raw values as keys:\n$p")
    assert(exch.exists(_.contains("dg#")), s"p89 lost the digest key:\n$p")
  }

  test("round-10 composed ops keep their claimed shapes") {
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      // p94's pair stage is the CELL-keyed self-join — the only
      // permitted nested loop is p53's K-row centroid broadcast
      val p94 = plan("p94_semdedup_prune")
      assert(!p94.contains("CartesianProduct"), s"p94 plans a cartesian:\n$p94")
      // p95's corpus-sized joins (global w-keyed, per-lang g-keyed)
      // stay keyed; the global learner's ≤1-row winner joins fold their
      // constant key into broadcast nested loops (p62/p66's established
      // shape — every BNLJ builds a ≤1-row side), so only a true
      // cartesian is banned
      val p95 = plan("p95_tokenizer_fertility")
      assert(!p95.contains("CartesianProduct"), s"p95 plans a cartesian:\n$p95")
      // p96 adds only keyed stages on top of p33's graph (which carries
      // the permitted centroid broadcast-cross)
      val p96 = plan("p96_knn_label_eval")
      assert(!p96.contains("CartesianProduct"), s"p96 plans a cartesian:\n$p96")
      // p97's global top-K is per-partition heaps, never a global sort;
      // the only exchange is the K-row single-partition rank window
      val p97 = plan("p97_weighted_sample")
      assert(p97.contains("TakeOrderedAndProject"),
        s"p97 lost the heap top-K:\n$p97")
      assert(!p97.contains("Exchange hashpartitioning"),
        s"p97 shuffles the corpus:\n$p97")
      // p98 composes the pair-graph artifacts with doc-keyed joins only
      // (the 1-row leak-count scalar broadcast is the accepted
      // exception); a cartesian would mean a lost join key
      val p98 = plan("p98_leakage_free_split")
      assert(!p98.contains("CartesianProduct"), s"p98 plans a cartesian:\n$p98")
      // p99's two per-cluster picks both run through the native bounded
      // heap — a window here would re-sort the whole member table
      val p99 = plan("p99_provenance_reps")
      assert(p99.contains("TopKPerKey"), s"p99 lost the native heap:\n$p99")
      assert(!p99.contains("Window"), s"p99 planned a window sort:\n$p99")
      // p100 adds only K-row arithmetic on top of the kmeans assignment:
      // the grid and scalar-total sides broadcast, nothing cartesian
      val p100 = plan("p100_embedding_drift")
      assert(!p100.contains("CartesianProduct"),
        s"p100 plans a cartesian:\n$p100")
      // p101's source lookups stay doc-keyed joins
      val p101 = plan("p101_source_mirror")
      assert(!p101.contains("CartesianProduct") &&
        !p101.contains("BroadcastNestedLoopJoin"),
        s"p101 went all-pairs:\n$p101")
      // p102's rate columns join 1-row scalar sides — broadcast, never
      // a shuffled cartesian
      val p102 = plan("p102_dataset_card")
      assert(!p102.contains("CartesianProduct"),
        s"p102 plans a cartesian:\n$p102")
      // p105's global rank is the two-level range-bucketed window — a
      // rangepartitioning exchange here would mean a true global sort
      // of the corpus snuck back in
      val p105 = plan("p105_training_order")
      assert(!p105.contains("rangepartitioning"),
        s"p105 plans a global sort:\n$p105")
      assert(p105.contains("Window"), s"p105 lost the ranked window:\n$p105")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
    }
  }

  test("round-10 instrument ops keep their claimed shapes") {
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      // p111's 5-row threshold table must broadcast against the pair
      // graph — a shuffled join here would key on a 5-value column
      val p111 = plan("p111_dedup_threshold_curve")
      assert(!p111.contains("CartesianProduct"),
        s"p111 plans a cartesian:\n$p111")
      // p112's only corpus-keyed exchange is the (w, gram) df count
      // chain; the gram build must NOT become a join. The n_docs path
      // legitimately plans ONE BroadcastNestedLoopJoin — the 4-row
      // widths grid against per-doc token counts (p111's threshold-grid
      // pattern: a broadcast inequality join on a constant table) —
      // so the ban is on CartesianProduct and on any BNLJ beyond it
      val p112 = plan("p112_dup_spectrum")
      assert(!p112.contains("CartesianProduct"),
        s"p112 went all-pairs:\n$p112")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p112).size <= 1,
        s"p112 grew a second nested-loop join:\n$p112")
      assert("hashpartitioning\\(w#\\d+, g#\\d+".r.findFirstIn(p112).isDefined,
        s"p112 lost its (w, gram) census exchange:\n$p112")
      // p113/p114's island windows run over the SPARSE dup rows keyed
      // by doc — a window without partitioning would funnel the corpus
      Seq("p113_dup_run_lengths", "p114_run_strip").foreach { q =>
        val p = plan(q)
        assert(!p.contains("Exchange SinglePartition"),
          s"$q funnels through one partition:\n$p")
        assert(p.contains("Window"), s"$q lost its island window:\n$p")
      }
      // p115: no sort and no window anywhere — the hot-key pick is a
      // broadcast-max filter + MIN aggregate. Plan strings print the
      // Exec-stripped nodeName, so match the bare word "Sort" (which
      // SortAggregate/SortMergeJoin's longer tokens don't produce)
      val p115 = plan("p115_skew_audit")
      assert(!p115.contains("Window") &&
        !"""\bSort\b""".r.findFirstIn(p115).isDefined,
        s"p115 plans a sort/window:\n$p115")
      // p116 is a constant grid: no exchange may appear at all
      val p116 = plan("p116_lsh_planner")
      assert(!p116.contains("Exchange"), s"p116 shuffles a constant:\n$p116")
      // p117's matrix joins are pair-keyed over bounded tables
      val p117 = plan("p117_dedup_agreement")
      assert(!p117.contains("CartesianProduct"),
        s"p117 plans a cartesian:\n$p117")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
    }
  }

  test("round-12 retrieval/decontam ops keep their claimed shapes") {
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      // p126: the eval side is DECLARED broadcast (benchmark-sized at
      // any corpus) — the scoring cross must be a broadcast nested
      // loop, never a cartesian, and the flagged-pair window+agg must
      // stay doc-keyed (no single-partition funnel anywhere: the only
      // corpus-wide stage is the map-side scan)
      val p126 = plan("p126_semantic_decontam")
      assert(p126.contains("BroadcastNestedLoopJoin"),
        s"p126 lost its declared broadcast cross:\n$p126")
      assert(!p126.contains("CartesianProduct"),
        s"p126 plans a cartesian:\n$p126")
      assert(!p126.contains("Exchange SinglePartition"),
        s"p126 funnels through one partition:\n$p126")
      // p127: the fusion's full-outer join and the per-probe windows
      // are keyed; the only nested loops are the declared broadcast
      // crosses (ANN probes, BM25's 1-row stats) — never a cartesian
      val p127 = plan("p127_rrf_fusion")
      assert(!p127.contains("CartesianProduct"),
        s"p127 plans a cartesian:\n$p127")
      assert(p127.contains("SortMergeJoin") ||
        p127.contains("BroadcastHashJoin") ||
        p127.contains("ShuffledHashJoin"),
        s"p127 lost its keyed fusion join:\n$p127")
      // p128: the staleness diff is a keyed full-outer over the two
      // posting states — never a cartesian, and nothing nested-loops
      // (the only crosses are the 1-row stats broadcasts)
      val p128 = plan("p128_index_staleness")
      assert(!p128.contains("CartesianProduct"),
        s"p128 plans a cartesian:\n$p128")
      // p129: both fusions and the overlap join stay keyed; the only
      // nested loops are the declared broadcast crosses (exact-ANN
      // probes, 1-row stats)
      val p129 = plan("p129_rrf_ivf_audit")
      assert(!p129.contains("CartesianProduct"),
        s"p129 plans a cartesian:\n$p129")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
    }
  }

  test("catalog registration leaves row-count and column stats behind") {
    graft.sql.SparkSqlRunner.ensureRegistered(spark, sf)
    val stats = spark.table("customer").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_ > 0), s"no rowCount: $stats")
    assert(stats.attributeStats.nonEmpty, "no column-level stats")
  }

  test("the events view inherits CBO stats through its normalizing projection") {
    // events is a view projecting Tables.normalizeTs's `ts` over the
    // events_raw catalog table; ProjectEstimation must carry the raw
    // table's row count and column stats through, so events joins are
    // CBO-visible like any other table's (VERDICT r8 item 7).
    graft.sql.SparkSqlRunner.ensureRegistered(spark, sf)
    val stats = spark.table("events").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_ > 0), s"no rowCount on events view: $stats")
    assert(stats.attributeStats.nonEmpty, "no column stats propagated to events view")
  }
}
