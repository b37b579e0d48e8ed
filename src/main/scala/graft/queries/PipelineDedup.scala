package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Exact._
import graft.Stage.StageOps
import graft.Tables
import graft.functions.Portable._
import graft.functions.VectorDot.vdot
import graft.functions.VectorDotLong.vdotl

/** Deduplication: exact, MinHash+LSH banded, SimHash, edit-distance,
  * span/run stripping, containment, semantic/SemDeDup, incremental,
  * cluster labels/reps, dup-graph analytics, decontamination, and the
  * dedup tuning/agreement/savings instruments.
  *
  * Implementation module of [[Pipeline]] (mixed into the one public
  * object; members are package-private to graft.queries). Split from
  * the former monolith in round 12 with zero behavior change. */
trait PipelineDedup extends PipelineVectors {


  // ---- deduplication -----------------------------------------------------

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One keyed shuffle on a 256-bit digest; map-side combine applies.
    * Reference has only sort-based whole-row dedup
    * (/root/reference/src/qp/operators/Project.java:122-296) — content-hash
    * dedup is the scale-path generalization. */
  private[queries] def p01ExactDedup: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))


  /** Near-dedup via banded MinHash LSH, verified with exact n-gram
    * Jaccard. Candidate pairs are formed ONLY inside an LSH band bucket —
    * a keyed self-join, never an all-pairs cross join — then exact
    * Jaccard via `array_intersect` of the carried shingle-id sets. Every
    * hash is portable (md5-based), so the DuckDB oracle reproduces the
    * identical candidate set and the identical output. */
  /** The p02 sketch table (doc_id, sig, shset, n), checkpointed.
    * Sketch stage: MAP-ONLY — scan → one native [[graft.functions
    * .MinHashSig]] projection → filter. The whole per-doc sketch (12
    * family mins + distinct 60-bit shingle ids) is computed in one pass
    * over the text bytes with no shingle rows, no hex strings, and no
    * aggregation; docs with < w tokens return NULL and are filtered,
    * matching the declarative form where they emit no shingle rows. The
    * round-7 A/B (PLANS.md) showed the shingle PRODUCER is not the
    * bottleneck — the per-row digest expressions and the 12-min/
    * collect_set ObjectHashAggregate are; this deletes both, and with
    * them the sketch's only shuffle. At 100 TB the signature build is
    * embarrassingly parallel over input splits — the plan a corpus-scale
    * dedup needs. The declarative explode+groupBy form (the DuckDB
    * oracle's literal shape) is retained below as the equivalence-spec
    * baseline (MinHashSigSpec).
    * Materialized once (the single-query analogue of writing the signature
    * table between pipeline stages): the band explode and both sides of
    * the candidate-pair join read the checkpoint, not a re-scan. The
    * blocks live until the session stops — a per-doc-row footprint, the
    * deliberate cost of not recomputing the sketch three times; a
    * long-lived service would write/read a real signature table instead
    * (which is exactly how p65 treats the existing-corpus side). */
  private[graft] def minhashSig(s: SparkSession, d: String): DataFrame =
    minhashSigOf(docsBalanced(s, d))


  /** The sketch build over any (doc_id, text) frame — the unit the
    * streaming gate's static side and the spec corpora share. Stateless
    * per-row expression, so it is streaming-legal as-is. */
  private[graft] def minhashSigOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(
          col("text"), ShingleW, NumHashes).as("ms"))
      .filter(col("ms").isNotNull)
      .select(col("doc_id"), col("ms.sig").as("sig"),
        col("ms.shset").as("shset"), col("ms.n").as("n"))
      .stagedDisk // carries every doc's full shingle-id SET: corpus-token-sized


  /** The pre-native declarative sketch (explode shingle rows → md5 hex →
    * conv the 60/40-bit halves → groupBy doc with 12 mins +
    * collect_set) — the literal shape of the DuckDB oracle SQL, kept as
    * the equivalence-test baseline (MinHashSigSpec); its A/B against
    * the native sketch is recorded in PLANS.md, "Round-10 (cont.):
    * one-pass native sketch family". */
  private[graft] def minhashSigOfDeclarative(docs: DataFrame): DataFrame = {
    val sh = shingleRowsOf(docs, ShingleW)
      .withColumn("dg", md5(col("shingle")))
      .withColumn("h1", conv(substring(col("dg"), 1, 15), 16, 10).cast(LongType))
      .withColumn("h2", conv(substring(col("dg"), 16, 10), 16, 10).cast(LongType))
    val aggs = (0 until NumHashes).map(i =>
      min(hashFamFrom(i, col("h1"), col("h2"))).as(s"m$i")) :+
      collect_set(col("h1")).as("shset")
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"),
        col("shset"), size(col("shset")).as("n"))
  }


  /** Band rows (carry..., band, bkey) off any frame with a `sig` array
    * column — the ONE band-key builder, shared by the batch sketch and
    * the streaming gate so their keys can never desynchronize. */
  private[graft] def bandRowsOf(sig: DataFrame,
      carry: Seq[String] = Seq("doc_id")): DataFrame =
    sig.select(carry.map(col) :+
        posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
          b => concat_ws(",", transform(
            slice(col("sig"), b * BandRows + 1, lit(BandRows)),
            x => x.cast(StringType))))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")


  private[queries] def p02MinhashNearDup: Q = (s, d) => nearDupPairs(s, d)


  /** The near-dup pair graph (doc_a, doc_b, jaccard) as a session-cached
    * artifact: built once per (session, dataset), checkpointed, and
    * consumed by every pair-graph operator (p02 itself, p32 clustering,
    * p55 hops, p88 PageRank — and through p32, p41/p82), not
    * recomputed per query.
    *
    * The final cut stays with reuse off too: most consumers union the
    * pairs with their flipped self, binding the frame on both sides of
    * one plan, and without the cut the verify broadcast-join subtree
    * runs twice (r17 ADVICE). Skipping it for p02's single bind alone
    * was inside noise on a 4-vCPU host (PLANS.md "Cross-session
    * artifact store deleted"). */
  private[graft] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.cached(s, d, "neardup_pairs") {
      buildNearDupPairs(s, d).staged
    }


  private[queries] def buildNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val docs = minhashSig(s, d)
    val bands = bandRowsOf(docs)
    val cand = candidatePairs(bands, materialize = true)
    // Verify stage: exact Jaccard via array_intersect of the carried
    // shingle sets, computed only for candidate pairs; the tiny candidate
    // list broadcasts, so the corpus is never shuffled here.
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shset").as("sa"),
        col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shset").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("ninter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"),
        (col("ninter").cast(DoubleType) /
          (col("na") + col("nb") - col("ninter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }


  /** SimHash document fingerprint (32-bit): per feature-hash bit
    * position, sum the ±1 votes of all features, take the sign. Features
    * are w-word shingles, not bare tokens — on a narrow vocabulary every
    * doc contains nearly every token, so token-level fingerprints
    * collapse (measured: 654 of 125k doc pairs at hamming 0), while
    * shingle-level cleanly separates the planted near-dups (hamming ≤5)
    * from background (≥6). MAP-ONLY since the native one-pass
    * [[graft.functions.SimHashFp]]: the whole fingerprint (distinct
    * features → 32 votes → sign pack) computes inside one projection —
    * no shingle rows, no distinct or aggregate shuffle, linear in corpus
    * size with no pairwise work at all. */
  private[queries] def simhashFp(s: SparkSession, d: String): DataFrame =
    docsBalanced(s, d)
      .select(col("doc_id"),
        graft.functions.SimHashFp.simhashFp(col("text"), ShingleW)
          .as("simhash"))
      .filter(col("simhash").isNotNull)


  /** The pre-native aggregate form — shingle rows → distinct features →
    * [[graft.functions.SimHashAgg]] — kept as the equivalence-test
    * baseline (SimHashFpSpec); the native one-pass [[graft.functions
    * .SimHashFp]] above deletes its distinct + aggregate shuffles, making
    * the fingerprint build map-only. */
  private[graft] def simhashFpAgg(s: SparkSession, d: String): DataFrame =
    simhashFeatures(s, d)
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhashAgg(col("hv")).as("simhash"))


  /** Per-doc DISTINCT shingle-feature hashes; the dedup runs on the
    * 60-bit shingle id (collision-equivalent to deduping the strings,
    * same negligible-collision contract as p02's verify stage) so the
    * fast codegen'd shingle build can emit duplicates. Consumed by the
    * native [[graft.functions.SimHashAgg]] — 32 counter updates per
    * feature ROW, one keyed shuffle of 32-counter partials — instead of
    * the declarative features×32 explode + two keyed shuffles
    * (retained in [[simhashFpExplode]] as the A/B baseline; both forms
    * are bit-identical to the DuckDB oracle). */
  private[graft] def simhashFeatures(s: SparkSession, d: String): DataFrame =
    shingleRows(s, d, ShingleW)
      .select(col("doc_id"), h60(col("shingle")).as("hv"))
      .dropDuplicates("doc_id", "hv")


  /** The pre-SimHashAgg declarative form, cross-checked equal in
    * SimHashAggSpec; its A/B against the native aggregate is the p03
    * row of PLANS.md's plan table. */
  private[graft] def simhashFpExplode(s: SparkSession, d: String): DataFrame =
    simhashFeatures(s, d)
      .select(col("doc_id"), col("hv"),
        explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(expr("2 * (shiftright(hv, j) & 1) - 1")).as("s"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN s >= 0 THEN shiftleft(CAST(1 AS BIGINT), j)" +
        " ELSE CAST(0 AS BIGINT) END")).as("simhash"))


  private[queries] def p03SimhashFingerprint: Q = (s, d) => simhashFp(s, d)


  /** SimHash near-dup pairs: band the 32-bit fingerprint into 4 bytes;
    * only docs sharing a band byte are candidates, then keep pairs within
    * hamming distance 3 — the distance the 4-band pigeonhole actually
    * guarantees (any pair differing in ≤3 bits leaves at least one band
    * intact), so the output is COMPLETE at its advertised threshold.
    * Distances 4-5 would only be found when their bits happen to spare a
    * band; emitting them would be a recall lottery. Same
    * bucketed-not-all-pairs shape as the MinHash path, over a 4x smaller
    * sketch — including the [[MaxBucket]] cap: a band byte shared by a
    * giant near-identical cluster (or plain byte-collision mass as the
    * corpus grows past ~256·cap docs) would otherwise emit |bucket|²
    * candidates; the cap bounds any bucket's fan-out exactly as p02's
    * does, and the oracle applies the identical cap. */
  private[queries] def p12SimhashPairs: Q = (s, d) => {
    val fp = simhashFp(s, d).staged
    val bands = capBuckets(fp.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", expr("shiftright(simhash, band * 8) & 255")))
    bands.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
      .join(bands.select(col("band"), col("bkey"),
        col("doc_id").as("doc_b"), col("simhash").as("sh_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(IntegerType))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
  }


  // Edit-distance near-dup: 2 one-row MinHash bands for candidates
  // (P(candidate) = 1-(1-j)^2 — a j=0.9 pair missed with p=1%), then a
  // length prefilter before the Levenshtein verify at relative distance
  // ≤ 0.2 — measured bimodal on the corpus: near-dups ≤0.1, background
  // ≥0.6. The prefilter reuses the SAME bound: edit distance ≥ |len_a −
  // len_b|, so any pair the final filter could accept has a length gap
  // ≤ 0.2·max — an O(1) test that skips the O(d·n) DP for pairs that
  // are provably rejectable, with bit-identical output.
  private[queries] val EditRelThreshold = 0.2


  /** Near-dedup verified by exact edit distance — the character-level
    * complement of p02's token-set Jaccard (catches heavy in-place
    * rewording that preserves few shingles yet small char edits).
    * Candidates come ONLY from shared MinHash band buckets, never
    * all-pairs; the O(len²) Levenshtein DP runs solely on
    * length-compatible candidates, and the tiny candidate list broadcasts
    * against the corpus so no text ever shuffles. */
  private[queries] def p29EditNearDup: Q = (s, d) => {
    // 2-member sketch off the native one-pass MinHashSig (round-10:
    // map-only, replacing the shingle explode + 2-min groupBy shuffle).
    // Checkpointed like p02's signature table: both sides of the band
    // self-join read the materialized mins, not a re-run of the shingle
    // sketch (2 longs per doc — negligible footprint at any scale).
    val sig = docsBalanced(s, d)
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("text"), ShingleW, 2)
          .as("ms"))
      .filter(col("ms").isNotNull)
      .select(col("doc_id"), col("ms.sig").getItem(0).as("b0"),
        col("ms.sig").getItem(1).as("b1"))
      .staged
    // not materialized (unlike p02's band table): A/B-timed slower here —
    // the sig checkpoint above already truncates the expensive subtree,
    // and a second materialization barrier just serializes the stages.
    val cand = candidatePairs(sig.selectExpr("doc_id",
      "stack(2, 0, b0, 1, b1) AS (band, bkey)"), materialize = false)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
      col("n_chars"))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("n_chars").as("la")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("n_chars").as("lb")), "doc_b")
      .withColumn("mx", greatest(col("la"), col("lb")))
      .filter(abs(col("la") - col("lb")) <= lit(EditRelThreshold) * col("mx"))
      // Spread the DP uniformly: after the broadcast joins the pairs
      // inherit the DOCS scan's partitioning, and near-dup pairs are id-
      // LOCAL (dup clusters sit in adjacent ids → the same row groups),
      // so the Levenshtein work piles onto a few partitions — at sf10
      // one task carried the whole tail for ~13 min. This exchange moves
      // only the CAP-BOUNDED candidate pairs (never the corpus), and
      // hash(doc_a, doc_b) is uniform by construction. The partition
      // count is EXPLICIT: a keyed repartition without one is
      // AQE-coalescible, and the pair bytes are tiny while the DP is
      // compute-bound — at sf0.1 AQE folded the whole verify into ONE
      // task (Profile `jobs`/`stages`: 1 task, 2.2 s of 3.2 s total; the same
      // byte-sized-parallelism class as the r16 sf10 finds).
      .repartition(s.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      // Threshold-banded DP (Ukkonen): O(d·n) per pair instead of O(n²),
      // with early exit (-1) the moment a pair provably exceeds the
      // acceptance bound. dist is an integer, so the floor'd threshold
      // keeps exactly the pairs the oracle's `lev <= 0.2*mx` keeps, with
      // identical distances — measured ~5x faster than the full DP on
      // the sf0.1 candidate set.
      .withColumn("dist",
        expr(s"levenshtein(ta, tb, CAST($EditRelThreshold * mx AS INT))")
          .cast(LongType))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"),
        round(col("dist") / col("mx"), 6).as("rel_dist"))
  }


  /** Duplicate-cluster resolution: connected components over the p02
    * near-dup pair graph via min-label propagation — the step that turns
    * pairwise matches into per-doc keep/drop decisions (cluster id = the
    * smallest doc_id in the component, `keep` marks the canonical doc).
    * The propagation is the standard BSP pattern (what GraphX Pregel
    * runs): each round is one fully-distributed set of keyed shuffles
    * and the driver only tests whether any label still shrank. Each
    * round also shortcuts through the label graph (lbl ← lbl's lbl, the
    * path-halving step of union-find), so convergence is O(log
    * diameter) rounds — a 50k-doc chain-shaped drift cluster converges
    * in ~17 rounds, not 50k — with a fail-fast cap as the backstop.
    * Labels are checkpointed per round: iterative lineage would
    * otherwise re-run every prior round each action. */
  private[queries] def p32DupClusters: Q = (s, d) => dupClusterLabels(s, d)


  /** The connected-component labels over the near-dup graph as a
    * session-cached artifact — the second shared side-table of the dedup
    * family (p32 reports it; p41 and p82 consume it). Reads the
    * [[nearDupPairs]] artifact, so a gate run pays the MinHash+LSH build
    * and the label propagation once each, not once per consumer. */
  private[graft] def dupClusterLabels(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.cached(s, d, "dup_cluster_labels") {
      buildDupClusters(s, d).staged
    }


  private[queries] def buildDupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .staged
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .staged
    var converged = false
    var rounds = 0
    while (!converged) {
      // 64 halving rounds cover any diameter a 2^64-node graph can hold;
      // hitting the cap means a logic bug, so fail loudly, never hang
      rounds += 1
      require(rounds <= 64, s"label propagation did not converge")
      val viaNeighbor = edges
        .join(labels.select(col("doc_id").as("dst"), col("lbl")), "dst")
        .select(col("src").as("doc_id"), col("lbl"),
          lit(null).cast(LongType).as("old"))
      val viaParent = labels
        .join(labels.select(col("doc_id").as("lbl"), col("lbl").as("plbl")),
          "lbl")
        .select(col("doc_id"), col("plbl").as("lbl"),
          lit(null).cast(LongType).as("old"))
      // carry each doc's CURRENT label through the one keyed aggregation
      // (exactly one `old` per doc_id — labels holds one row per doc), so
      // the convergence test is a map-side filter over the staged result
      // instead of a per-round shuffle JOIN of two corpus-sized label
      // tables (guide §2.4: one exchange does both jobs)
      val next = labels.select(col("doc_id"), col("lbl"), col("lbl").as("old"))
        .union(viaNeighbor).union(viaParent)
        .groupBy("doc_id").agg(min(col("lbl")).as("lbl"),
          max(col("old")).as("old"))
        .staged
      converged = next.filter(col("lbl") < col("old")).isEmpty
      labels = next.select(col("doc_id"), col("lbl"))
    }
    labels.select(col("doc_id"), col("lbl").as("cluster_id"),
      when(col("lbl") === col("doc_id"), 1).otherwise(0).as("keep"))
  }


  /** The incremental-ingest contract shared by p36 (exact anti-join
    * dedup) and p44 (bloom prefilter): content-addressed docs, a
    * deterministic 10% hash slice standing in for today's arrivals
    * (`newBatch`), and the distinct content hashes of everything else
    * (`existing` — at production scale the persisted dedup-index table,
    * not a re-scan of all history). One definition so both operators
    * measure the same workload. */
  private[queries] def ingestSplit(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("is_new",
        h60(col("doc_id").cast(StringType)) % 10 === 9)
    (docs.filter(col("is_new")).drop("is_new"),
      docs.filter(!col("is_new")).select(col("content_hash")).distinct())
  }


  /** Incremental dedup — the daily-ingest pattern: the [[ingestSplit]]
    * new batch is deduped against the existing corpus with a hash-keyed
    * anti-join, then within itself (min-id per content hash). Both
    * shuffles are keyed on the content digest. */
  private[queries] def p36IncrementalDedup: Q = (s, d) => {
    val (newBatch, existing) = ingestSplit(s, d)
    newBatch
      .join(existing, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("batch_dups"))
  }


  private[graft] val SpanW = 10


  /** Duplicate-span fraction (the Gopher-family repetition signal at
    * corpus scope): each doc is cut into NON-overlapping 10-token spans,
    * spans are hashed portably, and a doc's score is the fraction of its
    * spans whose hash occurs more than once in the WHOLE corpus
    * (within-doc repeats count too). Linear end to end: one explode, one
    * count keyed on the 60-bit span hash, one hash-keyed join back, one
    * per-doc aggregation — no pairwise work anywhere; the heavy explode
    * runs after the input rebalance. Docs shorter than one span still
    * score (0.0) via the left join. */
  private[queries] def p37SpanDedup: Q = (s, d) => {
    val spans = docsBalanced(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(when(size(col("t")) >= SpanW,
          sequence(lit(1), (size(col("t")) / SpanW).cast(IntegerType)))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("doc_id"), h60(concat_ws(" ",
        (0 until SpanW).map(k =>
          element_at(col("t"), (col("j") - 1) * SpanW + k + 1)): _*))
        .as("hv"))
    val cnt = spans.groupBy("hv").agg(count(lit(1)).as("cnt"))
    val perDoc = spans.join(cnt, "hv")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
    Tables.documents(s, d).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) > 0,
          round(col("n_dup") / col("n_spans"), 6))
          .otherwise(0.0).as("dup_span_frac"))
  }


  private[graft] val DecontamW = 5

  private[queries] val EvalSliceMod = 20L

  private[queries] val EvalSliceRem = 3L


  /** Eval-set decontamination — the training-hygiene pass every LLM
    * pipeline runs before training: flag training docs that share any
    * 5-token n-gram with a held-out eval slice (here a deterministic ~5%
    * hash slice of doc ids standing in for the benchmark suite). Gram
    * sets are per-doc-distinct 60-bit hashes; the eval gram table is
    * tiny relative to the corpus, so the deliberately UN-hinted
    * equi-join lets AQE broadcast it and the training side streams
    * map-side — the corpus is never shuffled on the gram key. Every
    * training doc is scored (hit count + flag), so a clean corpus still
    * yields a full audit table rather than an empty result. */
  private[queries] def p38Decontamination: Q = (s, d) => {
    val isEval =
      h60(col("doc_id").cast(StringType)) % EvalSliceMod === EvalSliceRem
    // per-doc-distinct grams built MAP-ONLY by the native ShingleIdSet
    // (round-10: replaces the corpus-wide (doc, hv) dropDuplicates
    // shuffle with an in-row dedup + in-memory explode)
    val grams = docsBalanced(s, d)
      .select(col("doc_id"),
        graft.functions.ShingleIdSet.shingleIdSet(col("text"), DecontamW)
          .as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), explode(col("st")).as("hv"))
      .withColumn("is_eval", isEval)
    val evalGrams = grams.filter(col("is_eval")).select("hv").distinct()
      .withColumn("hit", lit(1L))
    val perDoc = grams.filter(!col("is_eval"))
      .join(evalGrams, Seq("hv"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("g"), sum(coalesce(col("hit"), lit(0L))).as("h"))
    Tables.documents(s, d).select("doc_id").filter(!isEval)
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("g"), lit(0L)).as("n_grams"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        when(coalesce(col("h"), lit(0L)) > 0, 1).otherwise(0)
          .as("contaminated"),
        when(coalesce(col("g"), lit(0L)) > 0,
          round(col("h") / col("g"), 6)).otherwise(0.0).as("contam_frac"))
  }


  /** Duplicate-cluster representative selection — the step after p32
    * answers "which docs are duplicates of each other": pick ONE doc to
    * keep per cluster, preferring the longest (token count as the quality
    * proxy, min doc_id as the deterministic tiebreak), and report how
    * many members it displaces. One window per cluster plus one keyed
    * aggregation — per-cluster reducer state is a counter, and cluster
    * skew is already bounded upstream by p02's LSH bucket cap. */
  private[queries] def p41ClusterReps: Q = (s, d) => {
    val labels = dupClusterLabels(s, d).select(col("doc_id"), col("cluster_id"))
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    labels.join(toks, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(min(when(col("rnk") === 1, col("doc_id"))).as("rep_doc"),
        count(lit(1)).as("n_members"))
  }


  /** Semantic near-dup (SemDeDup-style): EMBEDDING-space candidates,
    * TEXT-verified — the cross-modal composite modern curation runs.
    * Candidate pairs come from p13's sign-bucketed cosine stage (never
    * all-pairs), then each pair's linked documents (vec_id = doc_id)
    * are checked by exact token Jaccard, so the output carries both the
    * embedding similarity and whether the text agrees. The tiny pair
    * list joins the token-set table un-hinted — AQE broadcasts it, and
    * the corpus is scanned once for token sets, never shuffled on a
    * pair key. */
  private[queries] def p49SemanticNearDup: Q = (s, d) => {
    val pairs = p13CosineNearDup(s, d)
    // balanced: the pair side broadcasts (it is LSH-bounded), so the
    // token-set intersect verify inherits the DOCUMENTS scan's
    // parallelism — the raw single-file scan's split count (4 tasks ×
    // 3.9 s medians at sf1, Profile `stages`). Guard-disabled at wide
    // 100 TB inputs, same as every Tables.balanced site.
    val sets = Tables.balanced(s, d, "documents", Seq("doc_id"))
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("tset"))
    val jaccard = col("ninter").cast(DoubleType) /
      (col("na") + col("nb") - col("ninter")).cast(DoubleType)
    pairs
      .join(sets.select(col("doc_id").as("vec_a"), col("tset").as("ta")),
        "vec_a")
      .join(sets.select(col("doc_id").as("vec_b"), col("tset").as("tb")),
        "vec_b")
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("sim"),
        size(array_intersect(col("ta"), col("tb"))).as("ninter"),
        size(col("ta")).as("na"), size(col("tb")).as("nb"))
      .select(col("doc_a"), col("doc_b"), col("sim"),
        round(jaccard, 6).as("jaccard"),
        (jaccard >= lit(JaccardThreshold)).cast(IntegerType)
          .as("text_confirmed"))
  }


  private[queries] val ContainProbeK = 4

  private[queries] val ContainDfCap = 1000L

  private[queries] val ContainThreshold = 0.9


  /** Containment dedup — the pair class Jaccard-LSH structurally MISSES:
    * a short doc quoted wholesale inside a long one has tiny Jaccard
    * (so p02's MinHash bands rarely collide) but containment
    * |A∩B|/|A| ≈ 1. Blocking therefore cannot use MinHash: instead each
    * doc probes with its [[ContainProbeK]] smallest shingle ids — if
    * A ⊆ B, A's minimum shingle IS in B's set, so the pair surfaces
    * unless that shingle is corpus-hot — against the full shingle index
    * with hot shingles (df > [[ContainDfCap]], boilerplate-grade) dropped,
    * mirroring p02's bucket cap. Candidate volume is Σ_shingle df×probes
    * over rare shingles only, never pairwise; the candidate id list then
    * broadcasts back onto the set table for the exact directional
    * verify, like p02's verify stage. */
  private[queries] def p52ContainmentDedup: Q = (s, d) => {
    // per-doc sorted-distinct shingle-id sets, built MAP-ONLY by the
    // native ShingleIdSet expression (round-10: replaces the corpus-wide
    // explode + dedup shuffle + collect_set agg) and materialized once:
    // the set table, the df count, and the index side all read it (the
    // p02 signature-table pattern). The per-shingle ROW view `sh` is now
    // DERIVED from the set table by an in-memory explode — distinct by
    // construction, no shuffle
    val sets0 = docsBalanced(s, d)
      .select(col("doc_id"),
        graft.functions.ShingleIdSet.shingleIdSet(col("text"), ShingleW)
          .as("st"))
      .filter(col("st").isNotNull)
      .stagedDisk // full per-doc shingle sets: corpus-token-sized
    // st is sorted ascending, so slice(st, 1, k) IS the k smallest ids
    val sets = sets0
      .select(col("doc_id"), col("st"), size(col("st")).cast(LongType).as("n"),
        slice(col("st"), 1, ContainProbeK).as("probes"))
    val sh = sets0.select(col("doc_id"), explode(col("st")).as("hv"))
    val rare = sh.groupBy("hv").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainDfCap).select("hv")
    val index = sh.join(rare, "hv")
    val cand = sets
      .select(col("doc_id").as("doc_a"), explode(col("probes")).as("hv"))
      .join(index.select(col("hv"), col("doc_id").as("doc_b")), "hv")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("st").as("sa"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("st").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("containment", round(
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          col("na"), 6))
      .filter(col("containment") >= ContainThreshold)
      .select("doc_a", "doc_b", "na", "nb", "containment")
  }


  /** SemDeDup semantic pruning (Abbas et al. 2023) — the keep/drop step
    * the p53 cells exist for: within each k-means cell, examples whose
    * pairwise quantized cosine reaches τ are semantic duplicates, and
    * each duplicate group keeps exactly ONE example — the one FURTHEST
    * from its centroid (largest d2: the paper's low-centroid-similarity
    * pick, which biases the kept set toward the cell's diverse rim).
    * The keep rule is pairwise-greedy, as in the released
    * implementation: drop x iff some same-cell neighbor with sim ≥ τ
    * outranks it by (d2 DESC, vec_id ASC) — no connected components, so
    * the decision is one self-join, and the top-ranked member of any
    * duplicate group (indeed of any cell) is never dropped. The
    * similarity gate is integer-exact — cross-multiplied squared cosine
    * over the int8 codes (dot > 0 ∧ 10⁴·dot² ≥ τ²·10⁴·|a|²·|b|²), no
    * division or sqrt anywhere, so the probabilistic-looking op has an
    * exact oracle. τ is calibrated to the QUANTIZED space — the per-dim
    * min/max affine quantization recenters every dimension, deflating
    * cosines (this corpus's within-cell max is ≈0.55 quantized), and
    * SemDeDup tunes τ per embedding space anyway. Work: the cell-keyed
    * self-join is Σ|cell|² like p33's IVF search — at 100 TB the
    * codebook grows with the corpus so cells stay bounded and the pair
    * work never approaches corpus². Output: the per-cell keep/drop
    * census a curation report leads with. */
  private[queries] val SemTau2E4 = 2025L // τ = 0.45 (quantized-space) ⇒ τ²·10⁴

  private[queries] def p94SemdedupPrune: Q = (s, d) => {
    val (qq, a2) = kmeansState(s, d)
    val m = a2.join(qq, "vec_id")
      // exact-int64 envelope for the cross-multiplied gate below:
      // 10⁴·dot² with |code| ≤ 128 needs dims ≤ ~1850 before 10⁴·(128²·D)²
      // passes 2^63 — enforce in-plan like p84 (assert_true is NULL on
      // pass, so the filter keeps every row and can't be pruned)
      .filter(assert_true(size(col("qv")) <= 1792,
        lit("p94: embedding dims exceed the exact-int64 cosine-gate " +
          "envelope (> 1792 dims); scale the similarity to a wider type"))
        .isNull)
      .withColumn("aa", vdotl(col("qv"), col("qv")))
      .select("vec_id", "cell", "d2", "qv", "aa")
      .stagedDisk // read 3×: both self-join sides + the census; rows carry full quantized vectors — corpus-vector-sized
    // Cell-size-adaptive salting (round 16): the cell-keyed self-join
    // generates |cell|² pairs inside the ONE task owning the cell's
    // hash partition — at sf10 the hottest k-means cell put 286 s on a
    // single task while the stage median was 0.09 s (Profile `stages`),
    // the p29 class of OUTPUT-side skew. [[saltedCellSelfJoin]] bounds
    // per-task pair work at ~SemSaltTarget·|cell|.
    val dropped = saltedCellSelfJoin(m,
      m.select(col("cell"), col("vec_id").as("o_id"),
        col("d2").as("o_d2"), col("qv").as("o_qv"), col("aa").as("o_aa")),
      "vec_id")
      .filter(col("vec_id") =!= col("o_id"))
      .withColumn("dot", vdotl(col("qv"), col("o_qv")))
      .filter(col("dot") > 0 &&
        lit(10000L) * col("dot") * col("dot") >=
          lit(SemTau2E4) * col("aa") * col("o_aa"))
      .filter(col("o_d2") > col("d2") ||
        (col("o_d2") === col("d2") && col("o_id") < col("vec_id")))
      .select("vec_id").distinct()
    val kept = m.join(dropped, Seq("vec_id"), "left_anti")
      .groupBy("cell").agg(count(lit(1)).as("n_kept"))
    m.groupBy("cell").agg(count(lit(1)).as("n_members"))
      .join(kept, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_members") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }


  /** Trailing-interval sliding aggregate — the per-EVENT "activity in
    * the last 10 minutes" signal (rate limiting, burst detection) that
    * tumbling windows (p10) quantize away: a RANGE frame over the
    * microsecond timestamp gives every event its own exact trailing
    * window. One keyed shuffle on user_id; frame state per partition is
    * the in-frame rows only (bounded by the interval × per-user event
    * rate), and both engines evaluate the identical integer frame
    * bounds. */
  private[queries] def p54SlidingWindow: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-600000000L, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_trailing", count(lit(1)).over(w))
      .withColumn("sum_trailing",
        sum(graft.Exact.dec(col("value"))).over(w).cast(DoubleType))
      .select("event_id", "user_id", "ts_us", "n_trailing", "sum_trailing")
  }


  /** Duplicate-graph neighborhood analysis — the structural signal a
    * curation pipeline reads per node of the p02 near-dup graph before
    * deciding cluster handling: degree and distinct ≤2-hop neighborhood
    * size separate tight cliques (2-hop ≈ degree: delete all but one)
    * from template chains and stars (2-hop ≫ degree: the cluster is a
    * family, review the template). One mid-keyed self-join of the
    * symmetric edge list — Σ deg(mid)² work, bounded by p02's LSH
    * bucket cap, never corpus-pairwise — then two exact counting
    * aggregations. */
  private[queries] def p55DupGraphHops: Q = (s, d) => {
    val pairs = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct().staged
    val within2 = edges.select(col("doc_a").as("src"), col("doc_b").as("mid"))
      .join(edges.select(col("doc_a").as("mid"), col("doc_b").as("dst")),
        "mid")
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .union(edges.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .distinct()
    val deg = edges.groupBy(col("doc_a").as("src"))
      .agg(count(lit(1)).as("degree"))
    within2.groupBy("src").agg(count(lit(1)).as("n_within2"))
      .join(deg, "src")
      .select(col("src").as("doc_id"), col("degree"), col("n_within2"))
  }


  // p75: doc_id * 2^20 + span index packs a span's global position into
  // one BIGINT so "first occurrence in corpus order" is a plain MIN —
  // portable to the oracle with no struct/arg-min support needed.
  private[queries] val StripPosPack = 1L << 20


  /** C4-style duplicate-span REMOVAL (Raffel et al. 2020 §2.2 discard
    * all but one of any three-sentence span occurring more than once;
    * spans here are the same non-overlapping [[SpanW]]-token windows
    * p37 censuses — the synthetic corpus has no sentence boundaries).
    * Where p37 only *scores* duplication, this op emits the cleaned
    * corpus: exactly one occurrence of every duplicated span survives
    * (the minimum (doc_id, span-index) position — deterministic, so the
    * oracle agrees), and each document is reconstructed in order with
    * its dropped windows excised and its sub-window tail kept.
    *
    * Scale shape: one span-keyed census shuffle (map-side combine), one
    * span-keyed join back, and then ONLY the dropped positions — a
    * sparse (doc_id, window-index) set, not span text — travel through
    * the doc_id-keyed shuffle to reconstruction; the cleaned text is
    * re-derived from the document's own token array with higher-order
    * functions, so reassembly never materializes or sorts span bodies.
    * Output carries an md5 digest of the cleaned text rather than the
    * text itself (at 100 TB the cleaned corpus is written to storage;
    * the audit table stays narrow). */
  private[queries] def p75SpanStrip: Q = (s, d) => spanStrip(docsBalanced(s, d))


  /** The shared [[SpanW]]-window machinery of the span family — ONE
    * definition of "what a window is" (tokenization, index explode,
    * h60 span hash, position packing) consumed by p75, p113, and
    * p114, so the three ops are structurally unable to disagree about
    * duplication (their scaladocs promise exactly that). Returns
    * (base, spans): base = (doc_id, t, n, n_spans) for reassembly,
    * spans = (doc_id, j, hv, pos) window rows. */
  private[queries] def spanWindowTable(docsIn: DataFrame): (DataFrame, DataFrame) = {
    val base = docsIn
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .withColumn("n_spans", (col("n") / SpanW).cast(IntegerType))
    val spans = base
      .select(col("doc_id"), col("t"),
        explode(when(col("n_spans") >= 1, sequence(lit(1), col("n_spans")))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("doc_id"), col("j"),
        h60(concat_ws(" ", (0 until SpanW).map(k =>
          element_at(col("t"), (col("j") - 1) * SpanW + k + 1)): _*))
          .as("hv"))
      .withColumn("pos", col("doc_id") * lit(StripPosPack) + col("j"))
    (base, spans)
  }


  /** The span family's shared reconstruction: excise each doc's
    * `drop_j` windows and rebuild its token stream in order, keeping
    * the sub-window tail. Extra columns on `drops` (p114's run count)
    * ride through the join untouched. */
  private[queries] def spanReassemble(base: DataFrame, drops: DataFrame): DataFrame =
    base.join(drops, Seq("doc_id"), "left_outer")
      .withColumn("dj", coalesce(col("drop_j"), array().cast("array<int>")))
      .withColumn("kept", when(col("n_spans") >= 1,
        filter(sequence(lit(1), col("n_spans")),
          j => !array_contains(col("dj"), j)))
        .otherwise(array().cast("array<int>")))
      .withColumn("clean", concat(
        flatten(transform(col("kept"),
          j => slice(col("t"), (j - 1) * SpanW + 1, lit(SpanW)))),
        slice(col("t"), col("n_spans") * SpanW + 1,
          col("n") - col("n_spans") * SpanW)))


  /** The p75 core over any `(doc_id, text)` frame — SpanStripGopherSpec
    * plants a shared span across documents and asserts only the
    * first-position copy survives and reconstruction preserves order. */
  private[queries] def spanStrip(docsIn: DataFrame): DataFrame = {
    val (base, spans) = spanWindowTable(docsIn)
    val census = spans.groupBy("hv")
      .agg(count(lit(1)).as("cnt"), min(col("pos")).as("keeper"))
    val drops = spans.join(census, "hv")
      .filter(col("cnt") > 1 && col("pos") =!= col("keeper"))
      .groupBy("doc_id").agg(collect_set(col("j")).as("drop_j"))
    spanReassemble(base, drops)
      .select(col("doc_id"),
        col("n_spans").cast(LongType).as("n_spans"),
        size(col("dj")).cast(LongType).as("n_dropped"),
        size(col("clean")).cast(LongType).as("n_tokens_clean"),
        md5(array_join(col("clean"), " ")).as("clean_md5"))
  }


  /** Incremental NEAR-dedup — the fuzzy twin of p36's exact incremental
    * path: an arriving batch (doc_id ≡ 0 mod 10) is checked against the
    * EXISTING corpus's LSH band index without ever re-pairing the
    * existing corpus with itself. At scale the existing side's sketch
    * and band rows are a stored signature table (here both sides come
    * off one checkpointed sketch build — the single-query analogue);
    * the batch only shuffles on band key, the p02 hot-bucket cap
    * applies to the union before the sides split (one policy, one
    * count), candidates are cross-side only (new × existing, never
    * new × new or existing × existing), and each verified batch doc
    * reports its match count and best existing match (highest Jaccard,
    * lowest doc_id tiebreak) through one per-new-doc window. */
  private[queries] def p65IncrementalNearDedup: Q = (s, d) => {
    val sig = minhashSig(s, d)
    val isNew = pmod(col("doc_id"), lit(10)) === 0
    val capped = capBuckets(bandRowsOf(sig)).staged
    val cand = capped.filter(isNew)
      .select(col("band"), col("bkey"), col("doc_id").as("new_id"))
      .join(capped.filter(!isNew)
        .select(col("band"), col("bkey"), col("doc_id").as("old_id")),
        Seq("band", "bkey"))
      .select("new_id", "old_id").distinct()
    val scored = cand
      .join(sig.select(col("doc_id").as("new_id"), col("shset").as("sa"),
        col("n").as("na")), "new_id")
      .join(sig.select(col("doc_id").as("old_id"), col("shset").as("sb"),
        col("n").as("nb")), "old_id")
      .withColumn("ninter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("ninter").cast(DoubleType) /
        (col("na") + col("nb") - col("ninter")))
      .filter(col("jaccard") >= JaccardThreshold)
    scored
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("new_id")))
      .withColumn("rn", row_number().over(Window.partitionBy("new_id")
        .orderBy(col("jaccard").desc, col("old_id"))))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("n_dups"), col("old_id").as("best_old"),
        col("jaccard").as("best_jaccard"))
  }


  /** Soft dedup: reweight near-duplicates instead of dropping them —
    * every document's training weight is 1/|near-dup cluster| (weight 1
    * for singletons), so each distinct content contributes one unit of
    * training mass however many times it was crawled. The cluster labels
    * are p32's connected components over the capped-LSH pair graph; this
    * adds only a cluster-size count and one doc-keyed left join, so the
    * scale story is exactly p32's (bounded by the LSH bucket cap). The
    * weight is a single IEEE division + round, bit-identical across
    * engines. */
  private[queries] def p82SoftDedupWeights: Q = (s, d) => {
    val labels = dupClusterLabels(s, d).select(col("doc_id"), col("cluster_id"))
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels.join(sizes, "cluster_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_members"), lit(1L)).as("n_members"),
        round(lit(1.0) / coalesce(col("n_members"), lit(1L)).cast(DoubleType),
          6).as("weight"))
  }


  /** Integer-exact PageRank over the near-dup graph — graph centrality
    * as a curation signal: within a duplicate cluster, the most-connected
    * document is the best canonical representative (hub of the template
    * family), complementing p41's size-based pick. Two power-iteration
    * rounds with damping 0.85, entirely in scaled integer arithmetic
    * (ranks start at 2^20; contributions are floor-divided by degree,
    * the damped sum is (85·Σ) div 100) so both engines agree bit for bit
    * — a float PageRank can never be oracle-exact. Each round is one
    * edge-keyed join + one dst-keyed sum: the BSP shape GraphX Pregel
    * runs, linear in edges, bounded by the LSH bucket cap like every
    * consumer of the p02 pair graph. */
  private[graft] val PrScale = 1L << 20

  private[graft] val PrBase = PrScale * 15 / 100

  private[queries] def p88DupPagerank: Q = (s, d) => {
    val pairs = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .staged
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var ranks = deg.select(col("src").as("doc_id"), lit(PrScale).as("rank"))
    for (_ <- 1 to 2) {
      ranks = edges.join(deg, "src")
        .join(ranks.select(col("doc_id").as("src"), col("rank")), "src")
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
        .select(col("dst").as("doc_id"),
          (lit(PrBase) + expr("(85 * sc) div 100")).as("rank"))
    }
    ranks.join(deg.select(col("src").as("doc_id"),
        col("outdeg").as("degree")), "doc_id")
      .select(col("doc_id"), col("degree"), col("rank"))
  }


  /** Benchmark-decontamination audit — the check every training corpus
    * runs before release: does a training document share a LONG n-gram
    * with the held-out evaluation set? (Tokens leak benchmarks into
    * training data; n-gram overlap is the published detection standard,
    * with widths in the 8–13 range — 8 here.) The eval set is the
    * doc_id ≡ 7 (mod 29) slice, a fixture stand-in for the benchmark
    * suite; per contaminated train doc the report carries its distinct
    * 8-gram count, how many of those appear anywhere in the eval set,
    * and the fraction. Shape: two shingle explodes, per-side distinct,
    * one keyed LEFT SEMI join, two doc-keyed counts. At deploy scale
    * the eval n-gram set is benchmark-sized (MBs against a 100 TB
    * corpus), so AQE broadcasts the semi join and the only real shuffle
    * is doc-keyed; grams travel as portable 60-bit ids, never strings.
    * [[graft.streaming.Streams.contaminationMatches]] is the continuous
    * twin over an arriving document feed. */
  private[graft] val ContamW = 8

  private[queries] def p92Decontaminate: Q =
    opArtifact("op_p92_decontaminate")(p92DecontaminateBuild)

  private def p92DecontaminateBuild: Q = (s, d) => {
    // per-doc-distinct gram sets built MAP-ONLY by the native
    // ShingleIdSet (round-10): the train side's (doc_id, g) distinct —
    // previously a corpus-wide shuffle — now happens in-row; only the
    // small eval slice still pays a (post-dedup) global distinct
    val docs = docsBalanced(s, d)
      .select(col("doc_id"),
        graft.functions.ShingleIdSet.shingleIdSet(col("text"), ContamW)
          .as("st"))
      .filter(col("st").isNotNull)
    val evalGrams = docs.filter(pmod(col("doc_id"), lit(29L)) === 7)
      .select(explode(col("st")).as("g")).distinct()
    val trainGrams = docs.filter(pmod(col("doc_id"), lit(29L)) =!= 7)
      .select(col("doc_id"), explode(col("st")).as("g"))
      .stagedDisk // one row per train gram: corpus-token-sized
    trainGrams.join(evalGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      .join(trainGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams")),
        "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast(DoubleType) / col("n_grams"), 6)
          .as("contam_frac"))
  }


  /** Substring-level decontamination — the VERBATIM-leak screen beside
    * p92's any-shared-5-gram flag: p92 fires on a single shared
    * phrase (high recall, noisy at release time), while the question
    * a release actually adjudicates is "does this training doc carry
    * a LONG verbatim copy of eval text" (the GPT-3/Lee et al.
    * long-overlap convention). Same eval slice as p92/p130
    * (doc_id ≡ 7 mod 29); every train token position starts a
    * stride-1 [[SpanW]]-token shingle (p131's machinery, pointed
    * across the split instead of at the corpus); a position matches
    * when its shingle occurs ANYWHERE in the eval slice (no keeper
    * rule — decontamination counts every overlap); maximal runs of
    * consecutive matched starts measure each doc's longest verbatim
    * overlap (run + SpanW − 1 tokens), and `verbatim_leak` fires at
    * [[MinSubTokens]]. Every train doc emits a row (grid rule), so a
    * clean corpus yields a full audit, and p133-flagged ⊂ p92-flagged
    * by construction (a 30-token shared substring shares 5-grams) —
    * SubstringContamSpec asserts the subset on the driver corpus and
    * plants an off-grid eval block to pin the boundary.
    *
    * Scale shape: the eval slice is benchmark-sized at any corpus, so
    * its distinct shingle-hash set stays bounded and the un-hinted
    * semi join lets AQE broadcast it — the train side is scanned
    * map-side, never shuffled on the gram key; only the SPARSE
    * matched (doc_id, start) rows reach the doc-keyed island window;
    * the stride-1 explode is the p131 cost class (one row per train
    * token), linear end to end. */
  private[queries] def p133SubstringContam: Q =
    // disk: the output is the full train grid, one row per train doc
    opArtifact("op_p133_substring_contam", disk = true)((s, d) =>
      substringContamOf(docsBalanced(s, d)))


  /** The p133 core over any (doc_id, text) frame — the fixture spec
    * picks eval ids by the same ≡ 7 (mod 29) rule. */
  private[graft] def substringContamOf(docsIn: DataFrame): DataFrame = {
    val isEval = pmod(col("doc_id"), lit(29L)) === 7
    val base = docsIn
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val starts = base
      .select(col("doc_id"), col("t"), col("n"),
        explode(when(col("n") >= SpanW,
          sequence(lit(1), col("n") - (SpanW - 1)))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("doc_id"), col("j"),
        h60(concat_ws(" ", slice(col("t"), col("j"), lit(SpanW))))
          .as("hv"))
      .stagedDisk // one row per token window: corpus-token-sized; read by the eval set and the train side
    val evalHv = starts.filter(isEval).select("hv").distinct()
    val matched = starts.filter(!isEval)
      .join(evalHv, Seq("hv"), "left_semi")
      .select("doc_id", "j")
      .staged // read by the run window and the per-doc census
    val runs = matched
      .withColumn("isl", col("j") - row_number().over(
        Window.partitionBy("doc_id").orderBy("j")))
      .groupBy("doc_id", "isl")
      .agg(count(lit(1)).cast(IntegerType).as("m"))
    val perDoc = matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched_starts"))
    val mx = runs.groupBy("doc_id")
      .agg((max(col("m")) + (SpanW - 1)).as("max_overlap_tokens"))
    base.filter(!isEval)
      .select(col("doc_id"),
        when(col("n") >= SpanW, col("n") - (SpanW - 1)).otherwise(0)
          .cast(LongType).as("n_starts"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .join(mx, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_starts"),
        coalesce(col("n_matched_starts"), lit(0L)).as("n_matched_starts"),
        coalesce(col("max_overlap_tokens"), lit(0)).cast(LongType)
          .as("max_overlap_tokens"),
        when(coalesce(col("max_overlap_tokens"), lit(0))
            >= MinSubTokens, 1).otherwise(0).cast(IntegerType)
          .as("verbatim_leak"))
  }


  /** The dedup-recall monitoring sample holds ~this many docs at any
    * corpus size: the sampling divisor is max(2, ceil(N/target)) — the
    * [[corpusCells]] rule — so the exact-truth stage below stays
    * |S|×N however large the corpus grows. At the sf0.01 gate corpus
    * (500 docs) the divisor floors at the historical mod-2. */
  private[queries] val DedupSampleTarget = 250L

  /** Dedup-index quality monitoring — p72's recall@k story for the
    * near-dup family: the capped-LSH index (p02) is probabilistic, and
    * its recall degrades silently as the corpus drifts (band width,
    * shingle length and the bucket cap were tuned for SOME duplicate
    * structure), so a production pipeline continuously compares it to
    * EXACT ground truth on a deterministic FIXED-SIZE sample: docs
    * with doc_id ≡ 0 (mod D), D = max(2, ceil(N/[[DedupSampleTarget]]))
    * — ~250 docs at any corpus size, the same corpus-derived sizing
    * rule as the k-means/IVF codebooks, computed identically by the
    * DuckDB twin. Ground truth is SAMPLE-ANCHORED: every exact-Jaccard
    * near-dup pair with at least one sampled endpoint, computed by
    * broadcasting the ~250 sample sketches against one corpus scan —
    * |S|×N work, LINEAR in the corpus (the previous proportional
    * mod-2 sample paid |N/2|² — quadratic: p110 rode it to 73 s at a
    * 10× corpus, PLANS.md "Round-12 (cont.): corpus-scaled codebooks").
    * Anchoring also keeps the estimator useful: a sampled doc's true
    * near-dups are found wherever they live in the corpus, so true
    * pairs don't vanish as
    * the sampling rate drops (both-endpoints-sampled pairs would decay
    * as 1/D²). `found` = the p02 pair-graph artifact restricted to
    * pairs touching the sample. One summary row: true/found/hit
    * counts, recall (the number that decays), precision (structurally
    * 1.0 — the LSH index exact-verifies every candidate, so it can
    * only MISS pairs, never invent them; reported so a verify-stage
    * regression is visible too). */
  private[queries] def p93DedupRecall: Q =
    opArtifact("op_p93_dedup_recall")(p93DedupRecallBuild)

  private def p93DedupRecallBuild: Q = (s, d) => {
    val dMod = corpusCells(docCount(s, d), 2L, DedupSampleTarget)
    val sig = minhashSig(s, d)
      .select(col("doc_id"), col("shset"), col("n"))
    val sample = sig.filter(pmod(col("doc_id"), lit(dMod)) === 0)
      .select(col("doc_id").as("s_id"), col("shset").as("sa"),
        col("n").as("na"))
    val truth = sig
      .select(col("doc_id").as("o_id"), col("shset").as("sb"),
        col("n").as("nb"))
      .crossJoin(broadcast(sample))
      .filter(col("o_id") =!= col("s_id"))
      .withColumn("ninter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("ninter").cast(DoubleType) /
        (col("na") + col("nb") - col("ninter")) >= JaccardThreshold)
      .select(least(col("s_id"), col("o_id")).as("doc_a"),
        greatest(col("s_id"), col("o_id")).as("doc_b"))
      .distinct() // a both-sampled pair arrives once per endpoint
      .staged
    val found = nearDupPairs(s, d)
      .filter(pmod(col("doc_a"), lit(dMod)) === 0 ||
        pmod(col("doc_b"), lit(dMod)) === 0)
      .select(col("doc_a"), col("doc_b"))
      .staged
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(found.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_found"), col("n_hit"),
        when(col("n_true") > 0, round(col("n_hit").cast(DoubleType) /
          col("n_true"), 6)).as("recall"),
        when(col("n_found") > 0, round(col("n_hit").cast(DoubleType) /
          col("n_found"), 6)).as("precision"))
  }


  // ---- dedup tuning triptych (p111–p113) ---------------------------------
  // Three reports that turn the dedup machinery into an instrument: how
  // the near-dup graph responds to the Jaccard THRESHOLD (p111), how
  // duplication varies with gram WIDTH (p112), and how long duplicated
  // spans actually RUN (p113). Together they are the evidence a corpus
  // team reads before fixing τ, w, and the span policy — published
  // pipelines pick these constants (0.8 Jaccard, 50-token substrings,
  // 3-sentence spans) from exactly these curves.

  /** Near-dedup threshold sensitivity — the τ tuning curve: for each
    * candidate Jaccard threshold (0.5–0.9 in tenths), the surviving
    * pair count, the count of docs linked by any pair, and the count of
    * docs the greedy higher-id drop rule (p78's) would remove. Read off
    * the one session-cached pair artifact — the index is BUILT at
    * τ = [[JaccardThreshold]] (banding is tuned for it), so the curve
    * sweeps upward from there; choosing a higher τ is a free re-filter
    * of the artifact, while lowering τ would mean re-banding.
    *
    * Scale shape: the pair graph is LSH-bounded (never corpus-sized),
    * and the 5-row threshold table broadcasts against it; every
    * aggregation is over that bounded frame. Thresholds with zero
    * surviving pairs still emit their row (p100's grid rule). The
    * compare is `jaccard * 10 >= t` — one IEEE multiply against an
    * integer, bit-identical across engines, no float literal to
    * round differently. */
  private[queries] def p111DedupThresholdCurve: Q = (s, d) =>
    dedupThresholdCurveOf(s, nearDupPairs(s, d))


  /** The p111 core over any (doc_a, doc_b, jaccard) pair frame —
    * Round10dOpsSpec replays it against per-threshold direct filters. */
  private[queries] def dedupThresholdCurveOf(s: SparkSession,
      pairs: DataFrame): DataFrame = {
    val taus = s.range(5, 10).select(col("id").as("tt"))
    val hit = pairs.crossJoin(broadcast(taus))
      .filter(col("jaccard") * 10.0 >= col("tt"))
      .staged // bounded: |pairs| × 5, read by both aggregates below
    val pairAgg = hit.groupBy("tt")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_dropped"))
    val docAgg = hit
      .select(col("tt"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("tt").agg(countDistinct(col("doc")).as("n_docs_linked"))
    taus.join(pairAgg, Seq("tt"), "left_outer")
      .join(docAgg, Seq("tt"), "left_outer")
      .select((col("tt").cast(DoubleType) / 10.0).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_linked"), lit(0L)).as("n_docs_linked"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }


  /** Gram widths the duplication spectrum samples — short enough to
    * catch phrase reuse, long enough to isolate wholesale copying
    * (Lee et al. 2022 dedup at 50 tokens; C4 at 3 sentences; this
    * corpus's docs run ~10–200 tokens, so the octave ladder 4–32
    * brackets its regimes). Shared verbatim with the oracle builder. */
  private[graft] val SpectrumWidths = Seq(4, 8, 16, 32)


  /** Duplication spectrum — the gram-WIDTH tuning curve: for each width
    * w in [[SpectrumWidths]], the corpus-wide distinct w-gram count, how
    * many of those grams occur in more than one document, and how many
    * documents carry at least one such duplicated gram. Short grams
    * duplicate by chance (common phrases), long grams only by real
    * copying — the width where the doc-level rate knees is the width a
    * span-dedup pass (p37/p75) should run at, measured instead of
    * assumed.
    *
    * Scale shape (reworked after the sf10 post-mortem, where the first
    * form died of UNABLE_TO_ACQUIRE_MEMORY): ONE corpus scan computes
    * every width's per-doc distinct gram set in a single projection
    * (the native map-only [[graft.functions.ShingleIdSet]], once per
    * width, exploded from one struct array); the only corpus-keyed
    * shuffle is the (w, gram) doc-frequency count (map-side combined,
    * its exchange planned once and reused). Neither the gram rows nor
    * the per-gram counts are ever STAGED — at census scale both are
    * corpus-sized (~140M rows at sf10), and pinning them in unified
    * memory is what starved the aggregate. The three reductions are
    * built so everything that persists is SMALL:
    *  - doc verdicts LEFT-SEMI-join the gram rows against only the
    *    DUPLICATED grams (df > 1) — a dup-RATE-bounded set, staged —
    *    instead of joining the full df table back to every gram row;
    *  - n_docs comes straight from per-doc token counts (a doc has a
    *    width-w gram iff it has >= w tokens — [[ShingleIdSet]]'s NULL
    *    rule), no gram rows involved;
    *  - the gram-level counts aggregate the df table straight down to
    *    one row per width.
    * Fractions follow p107's exact-ppm rule; widths with no eligible
    * docs still emit their row with NULL fractions (p100's grid
    * rule). */
  private[queries] def p112DupSpectrum: Q = (s, d) =>
    dupSpectrumOf(s, docsBalanced(s, d))


  /** The p112 core over any (doc_id, text) frame — Round10dOpsSpec
    * reconciles one width against a direct distinct-gram computation. */
  private[queries] def dupSpectrumOf(s: SparkSession,
      docsIn: DataFrame): DataFrame = {
    val widths = s.createDataFrame(
      SpectrumWidths.map(Tuple1(_))).toDF("w")
    val grams = docsIn
      .select(col("doc_id"), explode(array(SpectrumWidths.map(w =>
        struct(lit(w).as("w"),
          graft.functions.ShingleIdSet.shingleIdSet(col("text"), w)
            .as("st"))): _*)).as("x"))
      .filter(col("x.st").isNotNull) // docs with < w tokens: no rows at w
      .select(col("doc_id"), col("x.w").as("w"), explode(col("x.st")).as("g"))
      // deliberately un-staged: corpus-sized (see scaladoc)
    val dfreq = grams.groupBy("w", "g").agg(count(lit(1)).as("df"))
    val gramAgg = dfreq.groupBy("w")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
    // the duplicated grams are the dup-RATE-bounded slice — small enough
    // to stage, and the doc verdict needs nothing else from the df table
    val dupGrams = dfreq.filter(col("df") > 1).select("w", "g").staged
    val dupDocAgg = grams.join(dupGrams, Seq("w", "g"), "left_semi")
      .groupBy("w").agg(countDistinct(col("doc_id")).as("n_docs_with_dup"))
    // a doc has >= 1 width-w gram iff it has >= w tokens (ShingleIdSet's
    // NULL rule) — n_docs needs only the per-doc token count
    val docAgg = docsIn
      .select(size(tokens(col("text"))).as("ntok"))
      .crossJoin(broadcast(widths))
      .filter(col("ntok") >= col("w"))
      .groupBy("w").agg(count(lit(1)).as("n_docs"))
    def ppm(num: Column, den: Column): Column =
      when(den.isNull || den === 0L, lit(null).cast(DoubleType))
        .otherwise(ldiv(num * lit(1000000L), den).cast(DoubleType)
          / lit(1000000.0))
    widths.join(docAgg, Seq("w"), "left_outer")
      .join(dupDocAgg, Seq("w"), "left_outer")
      .join(gramAgg, Seq("w"), "left_outer")
      .select(col("w"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_docs_with_dup"), lit(0L)).as("n_docs_with_dup"),
        ppm(coalesce(col("n_docs_with_dup"), lit(0L)), col("n_docs"))
          .as("doc_dup_frac"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        ppm(coalesce(col("n_dup_grams"), lit(0L)), col("n_grams"))
          .as("gram_dup_frac"))
  }


  /** Duplicated-run length histogram — the exact-substring STRUCTURE
    * report: p37/p75 treat each duplicated [[SpanW]]-token window
    * independently, but real duplication arrives as runs (a copied
    * paragraph is many consecutive duplicated windows). Per document,
    * consecutive duplicated window indices merge into maximal runs
    * (gaps-and-islands), and the output is the run-length histogram:
    * for each run length, how many runs and how many distinct docs
    * carry one, with the token extent alongside. A histogram massed at
    * length 1 says window-level dedup suffices; a long tail is the
    * case for suffix-array exact-substring removal (Lee et al. 2022
    * use 50-token substrings — ~5 consecutive windows here).
    *
    * Scale shape: the window hash/census machinery is p75's (same
    * [[SpanW]], same h60 over the same span text, so the two ops
    * cannot disagree about what a duplicated window is); only the
    * SPARSE duplicated (doc_id, window-index) rows reach the doc-keyed
    * island window — per-doc state is that doc's duplicated-window
    * count, never its text; the histogram is a bounded aggregate of
    * the run rows. */
  private[queries] def p113DupRunLengths: Q = (s, d) =>
    dupRunLengthsOf(docsBalanced(s, d))


  /** The p113 core over any (doc_id, text) frame — Round10dOpsSpec
    * plants window-aligned shared blocks and asserts their run rows. */
  private[queries] def dupRunLengthsOf(docsIn: DataFrame): DataFrame = {
    val spans = spanWindowTable(docsIn)._2
      .select("doc_id", "j", "hv")
      .stagedDisk // one row per token window: corpus-token-sized; read by the census and the dup-window join
    // a window is duplicated if its span text occurs anywhere else in
    // the corpus — including the keeper copy (structure, not policy)
    val census = spans.groupBy("hv").agg(count(lit(1)).as("cnt"))
    val dupw = spans.join(census.filter(col("cnt") > 1), "hv")
      .select(col("doc_id"), col("j"))
    val runs = dupw
      .withColumn("isl", col("j") - row_number().over(
        Window.partitionBy("doc_id").orderBy("j")))
      .groupBy("doc_id", "isl")
      .agg(count(lit(1)).cast(LongType).as("run_len"))
    runs.groupBy("run_len")
      .agg(count(lit(1)).as("n_runs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(col("run_len"), (col("run_len") * SpanW).as("run_tokens"),
        col("n_runs"), col("n_docs"))
  }


  /** Minimum dropped-run length (in [[SpanW]]-token windows) for
    * [[p114RunStrip]] — 3 windows = 30 tokens, the Lee et al. 2022
    * 50-token rule scaled to this corpus's 10–200-token documents
    * (p113's measured histogram knees at 3+: chance phrase collisions
    * never run that long, block copies do). Shared verbatim with the
    * oracle builder. */
  private[graft] val MinRunW = 3


  /** Run-gated duplicate-span removal — the ACT on p113's report:
    * where p75 excises EVERY non-keeper duplicated window independently
    * (C4's rule, which also deletes chance phrase collisions), this op
    * drops a window only when it sits in a maximal run of at least
    * [[MinRunW]] consecutive duplicated non-keeper windows — the
    * exact-substring removal of Lee et al. 2022 expressed over p75's
    * window machinery (same [[SpanW]], same h60 span hash, same
    * min-(doc,position) keeper rule, so the three ops cannot disagree
    * about what a duplicated window is). Short incidental matches
    * survive; copied blocks vanish. Output is p75's audit shape plus
    * the per-doc dropped-run count, so the two policies' token loss is
    * directly comparable row by row.
    *
    * Scale shape: p75's exactly — one span-keyed census shuffle, one
    * span-keyed join back, then only the SPARSE candidate
    * (doc_id, window-index) rows reach the doc-keyed island window
    * (per-doc state = that doc's duplicated-window count, never text);
    * reconstruction re-derives the cleaned text from the doc's own
    * token array. The run gate is a pure filter on the bounded run
    * table — no new shuffle over p75. */
  private[queries] def p114RunStrip: Q = (s, d) => runStripOf(docsBalanced(s, d))


  /** The p114 core over any (doc_id, text) frame — Round10dOpsSpec
    * plants a long shared block plus a short shared phrase and asserts
    * only the block is stripped (and only its non-keeper copy). */
  private[queries] def runStripOf(docsIn: DataFrame): DataFrame = {
    val (base, spans) = spanWindowTable(docsIn)
    val census = spans.groupBy("hv")
      .agg(count(lit(1)).as("cnt"), min(col("pos")).as("keeper"))
    val cand = spans.join(census, "hv")
      .filter(col("cnt") > 1 && col("pos") =!= col("keeper"))
      .select(col("doc_id"), col("j"))
    val drops = cand
      .withColumn("isl", col("j") - row_number().over(
        Window.partitionBy("doc_id").orderBy("j")))
      .groupBy("doc_id", "isl")
      .agg(count(lit(1)).as("run_len"), collect_set(col("j")).as("js"))
      .filter(col("run_len") >= MinRunW)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_runs"),
        flatten(collect_list(col("js"))).as("drop_j"))
    spanReassemble(base, drops)
      .select(col("doc_id"),
        col("n_spans").cast(LongType).as("n_spans"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs_dropped"),
        size(col("dj")).cast(LongType).as("n_dropped"),
        size(col("clean")).cast(LongType).as("n_tokens_clean"),
        md5(array_join(col("clean"), " ")).as("clean_md5"))
  }


  /** Minimum token extent of a dropped substring for [[p131SubstringStrip]]
    * — deliberately MinRunW·SpanW = p114's 30-token gate, so the two
    * policies differ ONLY in alignment sensitivity and their audits
    * compare threshold-for-threshold. Shared verbatim with the oracle
    * builder. */
  private[graft] val MinSubTokens = MinRunW * SpanW

  /** Lee et al. 2022's PRODUCTION gate (50 tokens). The substring ops
    * default to [[MinSubTokens]] for cross-policy comparability, but
    * the release decision should read both calibrations — p132's
    * matrix carries a `substring_50` row at this setting, and the
    * fixture spec pins the boundary (a 30–49-token duplicated block is
    * dropped at 30, kept at 50). */
  private[graft] val ProdSubTokens = 50


  /** Variable-length maximal duplicated-substring removal — the
    * exact-substring dedup of Lee et al. 2022 proper, closing the gap
    * p114 leaves: p75/p114 see duplication only through the doc's own
    * NON-overlapping [[SpanW]]-token window grid, so a copied block
    * that lands off-grid in one document (start not ≡ 1 mod SpanW)
    * hashes to different windows in each copy and is invisible to
    * both. Here every token position starts a shingle (stride 1, the
    * same SpanW width and h60 hash), a position is duplicated when its
    * shingle occurs elsewhere in the corpus, and maximal runs of
    * consecutive duplicated NON-KEEPER starts (the same min-(doc,pos)
    * first-occurrence-survives rule as p75/p114) are excised when
    * their covered token extent (run + SpanW − 1 tokens) reaches
    * [[MinSubTokens]] — variable-length spans, any alignment, keeper
    * copy kept. Output is p75's audit shape (plus the total token
    * count), row-comparable across all three policies by
    * (doc_id, clean_md5).
    *
    * Scale shape: the stride-1 explode is ~one row per corpus TOKEN —
    * this is the honest cost class of suffix-based substring dedup
    * (Lee et al. build a suffix array of the corpus; a keyed census
    * over every position's shingle hash is the shuffle-native
    * equivalent) — one hv-keyed census with map-side combine, one
    * hv-keyed join back, and then only the SPARSE duplicated
    * (doc_id, start) rows reach the doc-keyed island window;
    * reconstruction re-derives the cleaned text from the doc's own
    * token array, never materializing span bodies. The explode runs
    * after the input rebalance; nothing is ever corpus-pairwise. */
  private[queries] def p131SubstringStrip: Q = (s, d) =>
    substringStripOf(docsBalanced(s, d))


  /** The p131 core over any (doc_id, text) frame — SubstringStripSpec
    * plants an OFF-GRID copied block (invisible to p114) plus a short
    * duplicated phrase and asserts exactly the non-keeper block copy
    * is stripped. `gate` is the minimum dropped-span token extent
    * (default [[MinSubTokens]] for policy comparability;
    * [[ProdSubTokens]] is Lee et al.'s production calibration). */
  private[graft] def substringStripOf(docsIn: DataFrame,
      gate: Int = MinSubTokens): DataFrame = {
    val (base, runs) = substringRunsOf(docsIn)
    exciseRuns(base, runs.filter(col("m") + (SpanW - 1) >= gate))
  }


  /** The stride-1 census up to the PRE-GATE maximal runs
    * (doc_id, isl, j0, m), plus the tokenized base — split out so
    * p132's two substring gate rows share ONE census (the explode +
    * hv self-join is the matrix's dominant cost; only the final
    * run-extent filter differs between the 30 and 50 rows). */
  private[graft] def substringRunsOf(docsIn: DataFrame)
      : (DataFrame, DataFrame) = {
    val base = docsIn
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val starts = base
      .select(col("doc_id"), col("t"),
        explode(when(col("n") >= SpanW,
          sequence(lit(1), col("n") - (SpanW - 1)))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("doc_id"), col("j"),
        h60(concat_ws(" ", slice(col("t"), col("j"), lit(SpanW))))
          .as("hv"))
      .withColumn("pos", col("doc_id") * lit(StripPosPack) + col("j"))
    val census = starts.groupBy("hv")
      .agg(count(lit(1)).as("cnt"), min(col("pos")).as("keeper"))
    val cand = starts.join(census, "hv")
      .filter(col("cnt") > 1 && col("pos") =!= col("keeper"))
      .select(col("doc_id"), col("j"))
    val runs = cand
      .withColumn("isl", col("j") - row_number().over(
        Window.partitionBy("doc_id").orderBy("j")))
      .groupBy("doc_id", "isl")
      .agg(min(col("j")).as("j0"),
        count(lit(1)).cast(IntegerType).as("m"))
    (base, runs)
  }


  /** Shared tail of the stride-1 excision family (p131 strip, p134
    * contamination surgery): given `base` = (doc_id, t, n) and gated
    * maximal runs (doc_id, j0, m), union the covered token positions
    * (tails of adjacent runs may overlap — distinct, membership-only
    * use), rebuild each doc's token stream in order, and emit the
    * p75-comparable audit shape.
    *
    * The membership probe is [[graft.functions.SortedContains]] over
    * the SORTED dropped positions (built once per doc at the agg, as
    * longs — the expression's contract type), not `array_contains`:
    * the linear scan was O(n·|dp|) per doc, worst-case QUADRATIC for
    * a pathologically self-repetitive long doc where |dp| ≈ n; the
    * binary search makes reassembly O(n·log|dp|). Same rows out —
    * membership-only use, order-independent. */
  private def exciseRuns(base: DataFrame, runs: DataFrame): DataFrame = {
    import graft.functions.SortedContains.sortedContains
    val drops = runs.groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_runs"),
        array_sort(array_distinct(flatten(collect_list(
          sequence(col("j0").cast(LongType),
            (col("j0") + col("m") + (SpanW - 2)).cast(LongType))))))
          .as("dp"))
    base.join(drops, Seq("doc_id"), "left_outer")
      .withColumn("dpp",
        coalesce(col("dp"), array().cast("array<bigint>")))
      .withColumn("clean", when(col("n") >= 1,
        transform(filter(sequence(lit(1), col("n")),
          p => !sortedContains(col("dpp"), p.cast(LongType))),
          p => element_at(col("t"), p)))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"),
        col("n").cast(LongType).as("n_tokens"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs_dropped"),
        (col("n") - size(col("clean"))).cast(LongType).as("n_dropped"),
        size(col("clean")).cast(LongType).as("n_tokens_clean"),
        md5(array_join(col("clean"), " ")).as("clean_md5"))
  }


  /** Contamination surgery — the remediation step after p133's
    * verbatim-leak screen: instead of DROPPING a flagged train doc
    * (the blunt release action, which loses its clean majority), the
    * leaked eval spans themselves are excised and the doc is kept —
    * the matched runs that fired p133's gate (same stride-1 shingles
    * across the same ≡ 7 mod 29 split, same [[MinSubTokens]] gate)
    * feed the p131 excision tail, so the three numbers a release
    * review reads (docs repaired, tokens removed, text digests) come
    * out in p75's audit shape over the full train grid. A sub-gate
    * overlap survives surgery exactly as it survives the screen.
    *
    * Scale shape: p133's (eval set broadcast-bounded, train scanned
    * map-side, sparse matched starts) + p131's reassembly (the doc's
    * own token array, no span bodies) — linear end to end. */
  private[queries] def p134ContamSurgery: Q = (s, d) =>
    contamSurgeryOf(docsBalanced(s, d))


  /** The p134 core over any (doc_id, text) frame — the fixture spec
    * reuses SubstringContamSpec's split and asserts the repaired
    * text. `gate` as in [[substringStripOf]]. */
  private[graft] def contamSurgeryOf(docsIn: DataFrame,
      gate: Int = MinSubTokens): DataFrame = {
    val isEval = pmod(col("doc_id"), lit(29L)) === 7
    val base = docsIn
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val starts = base
      .select(col("doc_id"), col("t"), col("n"),
        explode(when(col("n") >= SpanW,
          sequence(lit(1), col("n") - (SpanW - 1)))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("doc_id"), col("j"),
        h60(concat_ws(" ", slice(col("t"), col("j"), lit(SpanW))))
          .as("hv"))
      .stagedDisk // one row per token window: corpus-token-sized; read by the eval set and the train side
    val evalHv = starts.filter(isEval).select("hv").distinct()
    val matched = starts.filter(!isEval)
      .join(evalHv, Seq("hv"), "left_semi")
      .select("doc_id", "j")
    val runs = matched
      .withColumn("isl", col("j") - row_number().over(
        Window.partitionBy("doc_id").orderBy("j")))
      .groupBy("doc_id", "isl")
      .agg(min(col("j")).as("j0"),
        count(lit(1)).cast(IntegerType).as("m"))
      .filter(col("m") + (SpanW - 1) >= gate)
    exciseRuns(base.filter(!isEval), runs)
  }


  /** Strip-policy comparison matrix — the decision table over the
    * exact-substring removal policies the engine carries: p75 (C4:
    * every duplicated window goes), p114 (run-gated: only ≥ 30-token
    * ALIGNED runs go), p131 (substring proper: ≥ 30-token spans at
    * ANY alignment), plus the substring pass again at Lee et al.'s
    * PRODUCTION 50-token gate ([[ProdSubTokens]]) so the release
    * decision reads both calibrations side by side. One row per
    * policy — docs scanned, docs touched, tokens dropped, corpus
    * tokens, drop fraction — the numbers a curation review compares
    * before choosing how aggressive to cut (C4 deletes chance
    * collisions; run-gating spares them but misses off-grid copies;
    * substring gets both at ~10× census cost; the 50 gate trades
    * recall on 30–49-token blocks for fewer chance multi-window
    * collisions). Each row aggregates the POLICY OP'S OWN output (and
    * the oracle embeds each op's own oracle text — the p110/p117
    * composite rule), so the matrix can never drift from the audits
    * it summarizes.
    *
    * Scale shape: the policy passes as costed in their own scaladocs
    * (the two substring rows share the explode cost class), then
    * single-row aggregations — the matrix adds nothing corpus-sized. */
  private[queries] def p132StripPolicyMatrix: Q = (s, d) => {
    def rowOf(policy: String, df: DataFrame, dropped: Column)
        : DataFrame = {
      val total = sum(col("n_tokens_clean") + dropped)
      df.agg(count(lit(1)).as("n_docs"),
          // coalesce like the sibling sums: SUM over an empty corpus
          // is NULL, the embedded oracle COALESCEs it to 0
          coalesce(sum(when(col("n_dropped") > 0, 1L).otherwise(0L)),
            lit(0L)).as("n_docs_touched"),
          coalesce(sum(dropped), lit(0L)).as("n_tokens_dropped"),
          coalesce(total, lit(0L)).as("n_tokens_total"))
        .select(lit(policy).as("policy"),
          col("n_docs").cast(LongType).as("n_docs"),
          col("n_docs_touched"), col("n_tokens_dropped"),
          col("n_tokens_total"),
          when(col("n_tokens_total") === 0, lit(null).cast(DoubleType))
            .otherwise(ldiv(col("n_tokens_dropped") * lit(1000000L),
              col("n_tokens_total")).cast(DoubleType) / lit(1000000.0))
            .as("drop_frac"))
    }
    val docs = docsBalanced(s, d)
    // the two substring rows differ only in the run-extent gate: pay
    // the stride-1 census (the matrix's dominant cost) ONCE and gate
    // the staged pre-gate runs twice
    val (sbase, sruns) = substringRunsOf(docs)
    val srs = sruns.staged
    def subRow(policy: String, gate: Int): DataFrame =
      rowOf(policy,
        exciseRuns(sbase, srs.filter(col("m") + (SpanW - 1) >= gate)),
        col("n_dropped"))
    rowOf("c4_span", spanStrip(docs),
        col("n_dropped") * lit(SpanW.toLong))
      .unionByName(rowOf("run_gated", runStripOf(docs),
        col("n_dropped") * lit(SpanW.toLong)))
      .unionByName(subRow("substring", MinSubTokens))
      .unionByName(subRow("substring_50", ProdSubTokens))
  }


  /** Dedup savings report — what deduplication actually buys, by
    * cluster size: for each near-dup cluster size k (from the p32
    * label artifact; k = 1 is the unlinked remainder, so the rows sum
    * to the corpus), the cluster count, member docs, docs the min-id
    * keeper rule drops (k − 1 per cluster), and the TOKENS those
    * dropped docs carry — the "storage/compute reclaimed" number a
    * dedup proposal leads with, broken down by duplication depth
    * (a corpus of pairs dedups very differently from one with
    * thousand-copy template families).
    *
    * Scale shape: rides the cluster-label artifact (built once per
    * session/dataset); one doc-keyed token join, one cluster-keyed
    * agg, one size-keyed histogram agg, one LEFT ANTI for the
    * singleton census — every shuffle keyed and bounded by the
    * cluster structure. The keeper IS the cluster_id (labels converge
    * to the min member id), so the drop rule needs no extra pass. */
  private[queries] def p119DedupSavings: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
    val lbl = dupClusterLabels(s, d).select("doc_id", "cluster_id")
    val perCluster = lbl.join(docs, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_tok"))
          .otherwise(0L)).as("tok_dropped"))
    val clustered = perCluster.groupBy("k")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("k")).as("n_docs"),
        sum(col("k") - 1L).as("n_docs_dropped"),
        sum(col("tok_dropped")).as("n_tokens_dropped"))
      .select(col("k").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("n_docs_dropped"), col("n_tokens_dropped"))
    val singles = docs.join(lbl, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
        col("n").as("n_docs"), lit(0L).as("n_docs_dropped"),
        lit(0L).as("n_tokens_dropped"))
    clustered.union(singles)
  }


  /** The near-dup detectors [[p117DedupAgreement]] cross-tabulates, in
    * emission order. Shared verbatim with the oracle builder. */
  private[graft] val AgreementMethods =
    Seq("minhash", "simhash", "edit", "semantic")


  /** Dedup-method agreement matrix — which detector finds what: the
    * four near-dup pair detectors (p02 MinHash token-Jaccard, p12
    * SimHash Hamming, p29 edit-distance, p49 embedding+text semantic)
    * cross-tabulated as pair sets over the SAME corpus — per method
    * pair, both sets' sizes, the intersection, and each side's
    * exclusive finds. This is the report a corpus team reads before
    * trusting one detector alone (published dedup sections run exactly
    * this comparison: token-level methods miss reworded copies, edit
    * distance misses reorderings, embeddings flag topical
    * near-misses); a detector whose exclusive column dominates is
    * either finding real structure the others miss or
    * false-positiving — p49's text_confirmed gate answers which.
    *
    * Scale shape: every input is an already-LSH/band-bounded pair
    * table (never corpus²); each is staged once and the matrix is
    * pair-keyed joins + 1-row counts over those bounded tables — the
    * matrix costs a small multiple of the detectors it audits, and
    * nothing new scales with the corpus. */
  private[queries] def p117DedupAgreement: Q = (s, d) => dedupAgreementOf(Seq(
    "minhash" -> nearDupPairs(s, d),
    "simhash" -> p12SimhashPairs(s, d),
    "edit" -> p29EditNearDup(s, d),
    "semantic" -> p49SemanticNearDup(s, d)
      .filter(col("text_confirmed") === 1)))


  /** The p117 core over any (method, pair-frame) list — every frame
    * needs canonical (doc_a < doc_b) distinct pairs, which all four
    * detectors emit by construction. Round10dOpsSpec replays it on
    * hand-built pair sets with known overlaps. */
  private[queries] def dedupAgreementOf(
      methods: Seq[(String, DataFrame)]): DataFrame = {
    val staged = methods.map { case (n, df) =>
      n -> df.select(col("doc_a"), col("doc_b")).staged }
    staged.combinations(2).map { case Seq((na, a), (nb, b)) =>
      val ca = a.agg(count(lit(1)).as("n_a"))
      val cb = b.agg(count(lit(1)).as("n_b"))
      val both = a.join(b, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_both"))
      ca.crossJoin(cb).crossJoin(both)
        .select(lit(na).as("method_a"), lit(nb).as("method_b"),
          col("n_a"), col("n_b"), col("n_both"),
          (col("n_a") - col("n_both")).as("n_only_a"),
          (col("n_b") - col("n_both")).as("n_only_b"))
    }.reduce(_.union(_))
  }


  /** The (bands × rows) factorizations of the [[NumHashes]]-hash
    * MinHash family [[p116LshPlanner]] sweeps — every way to band 12
    * hashes. Shared verbatim with the oracle builder. */
  private[graft] val PlannerConfigs: Seq[(Int, Int)] =
    Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))


  /** LSH banding planner — the S-curves behind p02's 6×2 banding
    * choice: for every factorization (b bands × r rows) of the
    * [[NumHashes]]-hash family and every Jaccard j in tenths, the
    * candidate-detection probability P = 1 − (1 − jʳ)ᵇ (Leskovec et
    * al., MMDS ch. 3 — the standard banding analysis). Read next to
    * p111's MEASURED threshold curve, this is how a corpus team picks
    * the banding before building the index: more rows sharpen the
    * knee rightward (fewer false candidates), more bands pull it left
    * (better recall). The engine's live config is flagged in-row.
    *
    * Exactness: with j = jt/10 and b·r = 12 fixed, P is the exact
    * rational (10¹² − (10ʳ − jtʳ)ᵇ) / 10¹², every intermediate an
    * int64 below 2^53 (jtʳ ≤ 9¹² ≈ 2.8e11; (10ʳ−jtʳ)ᵇ < 10¹²), so
    * both engines compute integer products and ONE correctly-rounded
    * IEEE division — no pow(), no float drift (the p97/p107 house
    * rule). Pure 54-row grid, no table read: the planner costs
    * nothing at any corpus size. */
  private[queries] def p116LshPlanner: Q = (s, _) => lshPlannerOf(s)


  /** The p116 core — Round10dOpsSpec replays the closed form in
    * driver-side BigDecimal and pins the banding-theory shape. */
  private[queries] def lshPlannerOf(s: SparkSession): DataFrame = {
    val jts = s.range(1, 10).select(col("id").as("jt"))
    PlannerConfigs.map { case (b, r) =>
      val jr = (1 to r).map(_ => col("jt")).reduce(_ * _)
      val withC = jts.select(col("jt"),
        (lit(BigInt(10).pow(r).toLong) - jr).as("c"))
      val cb = (1 to b).map(_ => col("c")).reduce(_ * _)
      withC.select(lit(b).as("n_bands"), lit(r).as("n_rows"),
        (col("jt").cast(DoubleType) / 10.0).as("j"),
        ((lit(1000000000000L) - cb).cast(DoubleType) / 1.0e12)
          .as("p_detect"),
        lit(if (b == NumBands && r == BandRows) 1 else 0)
          .cast(IntegerType).as("is_current"))
    }.reduce(_.union(_))
  }
}
