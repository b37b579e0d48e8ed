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

/** Corpus curation and sketches: Gopher/C4-style rules, NB quality
  * classifier + calibration, DSIR weights, PII redaction, CMS/HLL/
  * Bloom/Misra-Gries sketches, mixtures, sampling, budget allocation,
  * Good-Turing spectrum.
  *
  * Implementation module of [[Pipeline]] (mixed into the one public
  * object; members are package-private to graft.queries). Split from
  * the former monolith in round 12 with zero behavior change. */
trait PipelineCuration extends PipelineEvents {


  /** End-to-end curation composite — the whole "make a training set"
    * path as ONE declarative query: exact-dedup (keep the smallest doc_id
    * per content hash), then score quality and language-gate the
    * survivors, emitting the curated manifest. Dedup runs FIRST so the
    * expensive tokenize/score work and the duplicate rows themselves
    * never ride past the exchange — on a dedup-heavy corpus (the use
    * case) only unique survivors are scored. One keyed shuffle total (the
    * dedup window's, which also lands the scoring map on balanced
    * partitions, so no docsBalanced here); filters and dedup commute
    * because duplicates share text and therefore scores. */
  private[queries] def p23Curation: Q = (s, d) => {
    val w = Window.partitionBy(md5(col("text")))
    val survivors = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
    val t = tokens(col("text"))
    qualityFilter(
      withQualityScores(survivors)
        .withColumn("uniq_ratio", size(array_distinct(t)) / size(t))
        .withColumn("quality",
          round((col("stop_ratio") + col("uniq_ratio")) / 2, 6)))
      .filter(col("quality") >= 0.3)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
  }


  private[queries] val CmsDepth = 4

  private[queries] val CmsWidth = 8192

  private[queries] val CmsProbes = Seq("the", "a", "of", "and", "to")


  /** Count–Min Sketch term frequencies — the bounded-memory answer to
    * token counting at 100 TB: the sketch table is AT MOST depth×width
    * (4×8192) rows no matter the corpus vocabulary, versus an exact
    * count's shuffle sized by distinct terms. Composed from counting
    * primitives (depth hash rows per term → keyed count), so it stays
    * portable: the same md5-derived buckets make the DuckDB oracle
    * reproduce every counter exactly. Probe estimates take the min over
    * depth counters and are compared against exact counts in the output
    * (CMS never undercounts: est >= exact always). */
  private[queries] def p24CmsCounts: Q = (s, d) => {
    def bucket(j: Column, term: Column): Column =
      h60Seeded(j, term) % CmsWidth
    val terms = docsBalanced(s, d)
      .select(explode(tokens(col("text"))).as("term"))
    val cms = terms
      .select(col("term"), explode(sequence(lit(0), lit(CmsDepth - 1))).as("j"))
      .select(col("j"), bucket(col("j"), col("term")).as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("n"))
    val probeRows = CmsProbes.flatMap(t => (0 until CmsDepth).map(j => (t, j)))
    import s.implicits._
    val pb = probeRows.toDF("term", "j")
      .withColumn("bucket", bucket(col("j"), col("term")))
    val est = pb.join(cms, Seq("j", "bucket"), "left")
      .groupBy("term").agg(min(coalesce(col("n"), lit(0L))).as("est_count"))
    val exact = terms.filter(col("term").isin(CmsProbes: _*))
      .groupBy("term").agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }


  private[queries] val StratumSampleK = 5


  /** Deterministic stratified sampling: the k=5 smallest portable text
    * hashes per (lang, source) stratum — a reproducible uniform draw
    * (md5 is uniform on text) that guarantees every stratum is
    * represented, where p19's global hash split samples proportionally.
    * Two-phase like every top-k in this file (p04/p18): a salted local
    * rank prunes each stratum to salts×k rows before the final stratum
    * window, so a stratum holding most of the corpus (one dominant
    * (lang, source) is the norm in crawl data) never funnels its full
    * volume through a single reducer. The final rank over the pruned
    * rows is the global answer because each salt cell keeps its own
    * k smallest — a stratum winner must be a salt-cell winner. */
  private[queries] def p30StratifiedSample: Q = (s, d) => {
    val salts = 32
    val hv = h60(col("text"))
    val wLocal = Window.partitionBy(col("lang"), col("source"), col("salt"))
      .orderBy(col("hv"), col("doc_id"))
    val wFinal = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("hv"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("hv", hv)
      .withColumn("salt", pmod(col("doc_id"), lit(salts.toLong)))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= StratumSampleK)
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= StratumSampleK)
      .select(col("doc_id"), col("lang"), col("source"), col("rk"))
  }


  /** Repetition / boilerplate quality signals (the Gopher-style
    * repetition filters): per-doc distinct-token ratio, top-token
    * dominance, and duplicate-bigram fraction. Two counting aggregations
    * keyed on doc_id (token-level and bigram-level) joined back — every
    * stage is a map-side-combinable groupBy; nothing pairwise, nothing
    * driver-side. */
  private[queries] def p31RepetitionScore: Q = (s, d) => {
    val tc = docsBalanced(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val uni = tc.groupBy("doc_id").agg(
      sum(col("c")).as("n"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_cnt"))
    val bi = shingleRows(s, d, 2).groupBy("doc_id").agg(
      count(lit(1)).as("n_bi"),
      countDistinct(col("shingle")).as("n_bi_d"))
    // LEFT join: a 1-token doc has no bigram rows at all, but a
    // repetition filter must still score it (dup_bigram_frac = 0)
    // rather than silently drop it from the output.
    uni.join(bi, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(col("n_distinct") / col("n"), 6).as("distinct_ratio"),
        round(col("top_cnt") / col("n"), 6).as("top_token_frac"),
        when(coalesce(col("n_bi"), lit(0L)) > 0,
          round(lit(1.0) - col("n_bi_d") / col("n_bi"), 6))
          .otherwise(0.0).as("dup_bigram_frac"))
  }


  private[queries] val HllM = 256

  // Every other sketch constant derives from HllM so the Spark side and
  // the interpolated oracle move together: p bucket bits, the max rho
  // rank over the remaining 60-p hash bits, and 2^rhoMax — the
  // fixed-point scale of the integer harmonic sum.
  private[queries] val HllP = Integer.numberOfTrailingZeros(HllM)

  private[queries] val HllRhoMax = 61 - HllP

  private[queries] val HllPow: Long = 1L << HllRhoMax

  // alpha_m * m^2 * 2^rhoMax — the numerator of the raw estimate over
  // the integer register sum below; one Scala-folded double constant,
  // injected verbatim into the oracle so both engines divide by the
  // identical value.
  private[queries] val HllRawNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) * (HllM.toDouble * HllM) * HllPow.toDouble


  /** HyperLogLog distinct-count sketch over `events.user_id`, built from
    * portable hashes so the DuckDB twin reproduces the registers — and
    * therefore the estimate — bit for bit. bucket = low 8 hash bits
    * (m=256 registers); rho = trailing-zero rank of the remaining 52
    * bits, geometric(1/2), the only property the estimator needs. The
    * register table is one map-side-combinable MAX per bucket, so the
    * full pass over a 100 TB event log reduces to 256 rows. The 2^-M_j
    * harmonic sum is accumulated as the exact integer sum(2^(53-M_j)) —
    * order-insensitive and overflow-free (≤2^61) — so no floating-point
    * summation order can perturb the estimate; the only double math is
    * one division (plus the standard linear-counting branch under 2.5m,
    * decided from the same integers in both engines). The exact count
    * and the sketch's relative error ride along for calibration. */
  private[queries] def p40HllDistinct: Q = (s, d) => {
    val regs = Tables.events(s, d)
      .select(h60(col("user_id").cast(StringType)).as("hv"))
      .select(col("hv").bitwiseAND(lit((HllM - 1).toLong)).as("bucket"),
        shiftright(col("hv"), HllP).as("w"))
      .withColumn("rho", when(col("w") === 0, lit(HllRhoMax))
        .otherwise(bit_count(col("w").bitwiseAND(-col("w")) - 1) + 1))
      .groupBy("bucket").agg(max(col("rho")).as("mj"))
    val sketch = regs.agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllRhoMax - mj)")).as("sp"),
        count(lit(1)).as("nb"))
      .select((col("sp") + (lit(HllM.toLong) - col("nb")) *
          lit(HllPow)).as("s_int"),
        (lit(HllM.toLong) - col("nb")).as("v"))
      .withColumn("raw", lit(HllRawNum) / col("s_int").cast(DoubleType))
      .withColumn("est", round(
        when(col("raw") <= lit(2.5 * HllM) && col("v") > 0,
          lit(HllM.toDouble) *
            log(lit(HllM.toDouble) / col("v").cast(DoubleType)))
          .otherwise(col("raw")), 4))
    val exact = Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sketch.crossJoin(exact)
      .select(col("n_exact"), col("est").as("hll_estimate"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
  }


  private[queries] val BloomBits = 8192L

  private[queries] val BloomK = 3


  /** Bloom-filter dedup prefilter — p36's incremental anti-join, but the
    * index the new batch probes first is BITS, not hashes: k=3 portable
    * positions per content hash, deduped into a position table that is
    * bounded at [[BloomBits]] rows NO MATTER how many documents the
    * corpus holds (vs the distinct-hash index, which grows linearly).
    * Each new doc reports its bloom verdict next to ground truth, so the
    * false-positive rate — the fraction of bloom hits that still need
    * the exact check — is measurable from the output. Both joins are
    * un-hinted: AQE broadcasts the ≤8192-row bit table. */
  private[queries] def p44BloomPrefilter: Q = (s, d) => {
    val (newBatch, existing) = ingestSplit(s, d)
    def positions(c: Column): Column = array((0 until BloomK).map(i =>
      h60Seeded(lit(i), c) % lit(BloomBits)): _*)
    val bits = existing
      .select(explode(positions(col("content_hash"))).as("pos")).distinct()
      .withColumn("present", lit(1))
    val probes = newBatch
      .select(col("doc_id"), col("content_hash"),
        explode(positions(col("content_hash"))).as("pos"))
    val verdicts = probes.join(bits, Seq("pos"), "left_outer")
      .groupBy("doc_id", "content_hash")
      .agg(sum(when(col("present").isNull, 1).otherwise(0)).as("miss"))
      .withColumn("bloom_hit",
        when(col("miss") === 0, 1).otherwise(0).cast(IntegerType))
    verdicts.join(existing.withColumn("dup", lit(1)),
        Seq("content_hash"), "left_outer")
      .select(col("doc_id"), col("bloom_hit"),
        when(col("dup").isNull, 0).otherwise(1)
          .cast(IntegerType).as("is_dup"))
  }


  /** Character- and token-level Simpson diversity (1 − Σp²) — the
    * log-free entropy analogue used as a garbage/repetition quality
    * signal: boilerplate and low-quality spans have few distinct
    * symbols, so their diversity collapses. Chosen over Shannon entropy
    * deliberately: Σcnt² and the totals are exact integers, so the score
    * is two integer sums and one division — no `ln`, whose libm rounding
    * differs across engines, and no float accumulation order anywhere.
    * Two keyed counting aggregations (map-side combinable) joined on
    * doc_id; rows scale with text bytes, never with doc pairs. */
  private[queries] def p45DiversityScore: Q = (s, d) => {
    def simpson(s2: Column, n: Column): Column =
      round(lit(1.0) - s2.cast(DoubleType) / (n * n).cast(DoubleType), 6)
    val chars = docsBalanced(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      // Java's split(s, -1) appends a trailing "" that DuckDB's
      // string_split does not produce; both twins filter it
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_ch"),
        sum(col("c") * col("c")).as("s2_ch"))
    val toks = docsBalanced(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_tok"),
        sum(col("c") * col("c")).as("s2_tok"))
    chars.join(toks, "doc_id")
      .select(col("doc_id"), col("n_ch"),
        simpson(col("s2_ch"), col("n_ch")).as("char_simpson"),
        col("n_tok"), simpson(col("s2_tok"), col("n_tok")).as("token_simpson"))
  }


  private[queries] val MixCap = 0.05

  private[queries] val MixScale = 1000000L


  /** Source-mixture reweighting (static DoReMi-style downsampling): no
    * source may exceed [[MixCap]] of the corpus's tokens, so each
    * source's keep-rate is min(1, cap/share) and docs are kept by a
    * deterministic hash threshold — the same doc survives on any
    * cluster, any partitioning, any run. Three tiny aggregations (the
    * per-source table is |sources| rows, broadcast back un-hinted) plus
    * one map-side filter; the heavy corpus is scanned once and never
    * shuffled on a data-dependent key. Per-source admissions ride along
    * so the realized mixture is auditable against the target. */
  private[queries] def p46MixtureSample: Q = (s, d) => {
    val docTok = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
    val bySrc = docTok.groupBy("source")
      .agg(sum(col("n_tok")).as("src_tok"), count(lit(1)).as("n_docs_in"))
    val tot = docTok.agg(sum(col("n_tok")).as("tot_tok"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("keep_rate", least(lit(1.0), lit(MixCap) /
        (col("src_tok").cast(DoubleType) / col("tot_tok").cast(DoubleType))))
    val kept = docTok.join(rates.select("source", "keep_rate"), "source")
      .filter(h60(concat(lit("mix:"), col("doc_id").cast(StringType)))
        % lit(MixScale) < floor(col("keep_rate") * lit(MixScale.toDouble)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tok")).as("n_tok_kept"))
    rates.join(kept, Seq("source"), "left_outer")
      .select(col("source"), round(col("keep_rate"), 6).as("keep_rate"),
        col("n_docs_in"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("n_tok_kept"), lit(0L)).as("n_tok_kept"))
  }


  private[queries] val HistBins = 32L


  /** Mergeable-histogram quantiles over the document length distribution
    * — the corpus-analytics scale pattern: an exact percentile needs a
    * global sort of the column, but a fixed-bin histogram is a ≤32-cell
    * map-side-combinable aggregate whose cells merge associatively
    * across any number of partitions (or days, or clusters), and
    * quantiles read off its CDF with error bounded by one bin width.
    * Binning is pure INTEGER arithmetic (no float rounding to diverge
    * between engines), and the exact percentiles ride along so the
    * approximation error is visible in the output. The CDF window runs
    * over the 32-row histogram, never the corpus. */
  private[queries] def p48HistQuantiles: Q = (s, d) => {
    val doc = Tables.documents(s, d).select(col("n_chars"))
    val mm = doc.agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
      count(lit(1)).as("n"))
    val hist = doc.crossJoin(broadcast(mm))
      .select(least(lit(HistBins - 1),
        expr(s"(n_chars - mn) * $HistBins div (mx - mn + 1)")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = hist.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(mm))
    def edge(bin: Column): Column =
      col("mn") + (bin + lit(1)).cast(DoubleType) *
        (col("mx") - col("mn") + lit(1)).cast(DoubleType) / lit(HistBins.toDouble)
    val p50 = cdf.filter(col("cum") * 2 >= col("n"))
      .agg(min(col("b")).as("p50_bin"))
    val p90 = cdf.filter(col("cum") * 10 >= col("n") * 9)
      .agg(min(col("b")).as("p90_bin"))
    val exact = doc.agg(
      round(percentile(col("n_chars"), lit(0.5)), 4).as("p50_exact"),
      round(percentile(col("n_chars"), lit(0.9)), 4).as("p90_exact"))
    mm.crossJoin(p50).crossJoin(p90).crossJoin(exact)
      .select(col("n"), col("mn"), col("mx"),
        col("p50_bin"), round(edge(col("p50_bin")), 4).as("p50_approx"),
        col("p50_exact"),
        col("p90_bin"), round(edge(col("p90_bin")), 4).as("p90_approx"),
        col("p90_exact"))
  }


  // Both patterns live in the RE2 ∩ Java-regex common subset (no
  // backrefs, no lookaround), like BpeTokenRe — the precondition for
  // the DuckDB twin masking identically.
  private[queries] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  private[queries] val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"


  /** PII redaction — the scrubbing pass a training-data pipeline runs
    * before anything else sees the text: emails and phone-shaped
    * numbers are replaced with type tags, and the per-doc match counts
    * ride along for the compliance report. Pure map-side
    * (codegen'd regexp_replace / regexp_extract_all after the input
    * rebalance, no shuffle at all); the driver corpus contains no
    * planted PII, so the gate proves the no-false-positive side and the
    * mini proves the masking side. */
  private[queries] def p56PiiRedact: Q = (s, d) =>
    docsBalanced(s, d)
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("clean_text"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .cast(LongType).as("n_phones"))


  /** Grouped HLL distinct counting through the REUSABLE native
    * aggregate (graft.functions.HllAgg, SQL-registered as `hll_agg`) —
    * the TypedImperativeAggregate generalization of p40's declarative
    * register build: distinct users per event_type in ONE keyed
    * shuffle of 256-byte mergeable sketches, where the declarative
    * form needs a (group, bucket) aggregation plus a second keyed
    * pass. Property-tested bit-identical to p40's formulation
    * (HllAggPropertySpec); the oracle rebuilds the registers per group
    * in SQL, so the hash match proves the native buffer arithmetic,
    * not just the shape. */
  private[queries] def p57HllGroups: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val est = ev
      .select(col("event_type"), h60(col("user_id").cast(StringType)).as("hv"))
      .groupBy("event_type")
      .agg(graft.functions.HllAgg.hllAgg(col("hv")).as("hll_estimate"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(est, "event_type")
      .select(col("event_type"), col("n_exact"), col("hll_estimate"),
        round(abs(col("hll_estimate") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
  }


  /** Two-phase heavy hitters: which tokens exceed 1/128 of the corpus?
    * Phase 1 runs the native [[graft.functions.MgAgg]] Misra–Gries
    * sketch (k = 256 counters) in ONE aggregation pass alongside the
    * exact total — bounded state, so partials carry ≤ 256 entries per
    * task and the vocabulary NEVER shuffles (a plain
    * `groupBy(token).count` would shuffle every distinct token in a
    * 100 TB corpus just to discard all but the hot ones). Phase 2
    * re-scans with the ≤ 256 candidates broadcast, recounts ONLY them
    * (map-side filter, then a ≤ 256-key shuffle), and keeps tokens with
    * cnt·128 ≥ n. Because MG guarantees every token with frequency
    * > n/257 is in the candidate set, the filtered output is EXACTLY
    * the ≥ n/128 set on any partitioning — sketch nondeterminism below
    * the threshold never reaches the result, which is what makes an
    * exact DuckDB oracle possible for a sketch-powered query. */
  // 256 MG counters guarantee candidates down to 1/257 of the corpus —
  // safely below the 1/128 report threshold
  private[queries] val HhSketchK = 256

  private[queries] val HhDen = 128


  private[queries] def p70HeavyHitters: Q = (s, d) => {
    def toks = docsBalanced(s, d)
      .select(explode(tokens(col("text"))).as("token"))
    val sk = toks.agg(
      count(lit(1)).as("n"),
      graft.functions.MgAgg.mgAgg(col("token"), HhSketchK).as("cands"))
    val cand = sk.select(col("n"), explode(col("cands")).as("token"))
    toks.join(broadcast(cand), "token")
      .groupBy(col("token"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(HhDen) >= col("n"))
      .select(col("token"), col("cnt"))
  }


  private[queries] def p71NbClassifier: Q = (s, d) =>
    nbClassifyCensus(Tables.documents(s, d)
      .withColumn("is_test",
        pmod(h60(col("doc_id").cast(StringType)), lit(10)) === 9))


  /** The p71 core over any `(doc_id, lang, text, is_test)` frame —
    * NbClassifierSpec feeds a class-separable corpus through it and
    * asserts the census is diagonal (the driver corpus's lang labels are
    * uncorrelated with its text, so the GATE exercises cross-engine
    * exactness while the spec proves the model actually learns). */
  private[queries] def nbClassifyCensus(docs: DataFrame): DataFrame = {
    val pred = nbScored(docs)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("cls"))))
      .filter(col("rn") === 1)
      .drop("rn")
    pred.groupBy(col("actual"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }


  /** The shared NB scoring core: per-(holdout doc, class) quantized
    * log-posterior rows, consumed by the p71 census and the p103
    * calibration audit. */
  private[queries] def nbScored(docs: DataFrame): DataFrame = {
    def toksOf(df: DataFrame) = df
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
    val trainToks = toksOf(docs.filter(!col("is_test")))
    // the model: per-(class, token) occurrence counts — one keyed shuffle
    val model = trainToks.groupBy("lang", "token")
      .agg(count(lit(1)).as("cnt"))
    // per-class stats: token totals + doc priors + shared vocab size, all
    // ≤|classes| rows (broadcast-able by AQE at any corpus size)
    val vsize = model.select(countDistinct(col("token")).as("v"))
    val classStats = model.groupBy("lang")
      .agg(sum(col("cnt")).as("tot"))
      .join(docs.filter(!col("is_test")).groupBy("lang")
        .agg(count(lit(1)).as("n_docs")), "lang")
      .crossJoin(vsize)
      .select(col("lang").as("cls"),
        qlog2(col("n_docs")).as("q_prior"),
        qlog2(col("tot") + col("v")).as("q_den"))
    toksOf(docs.filter(col("is_test")))
      .withColumnRenamed("lang", "actual")
      .crossJoin(broadcast(classStats))
      .join(model.withColumnRenamed("lang", "cls"),
        Seq("cls", "token"), "left_outer")
      .groupBy(col("doc_id"), col("actual"), col("cls"),
        col("q_prior"), col("q_den"))
      .agg(count(lit(1)).as("n_tok"),
        sum(qlog2(coalesce(col("cnt"), lit(0L)) + lit(1L))).as("q_num"))
      .select(col("doc_id"), col("actual"), col("cls"),
        (col("q_prior") + col("q_num") - col("n_tok") * col("q_den"))
          .as("score"))
  }


  /** Classifier calibration audit — the reliability diagram a quality
    * classifier must pass before its scores gate a corpus at scale:
    * p71's holdout docs bucketed by decision MARGIN (top-1 minus top-2
    * quantized log-posterior, an exact integer in 2^-16 bits), each
    * bucket reporting its doc count and empirical accuracy. A healthy
    * classifier's accuracy rises with margin; a flat or inverted curve
    * means the scores carry no confidence signal and thresholding on
    * them is arbitrary — the audit that decides whether p71-style
    * filtering is safe to deploy. Margin bins are whole bits capped at
    * [[CalMaxBin]] (a doc with no runner-up class is fully confident →
    * cap bin). Cost on top of the shared scoring core: the per-doc
    * window orders ≤|classes| rows per doc, then everything is ≤bins
    * rows. All counts and the margin are exact integers, so the
    * probabilistic-looking audit has an exact oracle. */
  private[graft] val CalMaxBin = 16L

  private[queries] def nbCalibration(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls"))
    val perDoc = nbScored(docs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("doc_id")
      .agg(min(when(col("rn") === 1, col("cls"))).as("predicted"),
        min(col("actual")).as("actual"),
        (max(when(col("rn") === 1, col("score"))) -
          coalesce(max(when(col("rn") === 2, col("score"))),
            max(when(col("rn") === 1, col("score")))
              - lit((CalMaxBin + 1) * 65536L))).as("margin_q"))
    perDoc
      .withColumn("bin", least(lit(CalMaxBin), expr("margin_q div 65536")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("actual"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast(DoubleType) / col("n_docs"), 6))
  }


  private[queries] def p103NbCalibration: Q = (s, d) =>
    nbCalibration(Tables.documents(s, d)
      .withColumn("is_test",
        pmod(h60(col("doc_id").cast(StringType)), lit(10)) === 9))


  /** Gopher/MassiveText quality-rule gate (Rae et al. 2021, appendix
    * A1.1), the published heuristic filter every large-scale text
    * pipeline runs before dedup: per document, (1) word count within
    * [50, 100000]; (2) mean word length within [3, 10] characters;
    * (3) at least 2 distinct stop words present; (4) the repetition
    * bound — Gopher's duplicate-line fraction, mapped to duplicate
    * UNIGRAM fraction ≤ 0.55 here because the synthetic corpus has no
    * line structure. Emits the per-document audit flags plus the
    * combined keep bit.
    *
    * Scale shape: pure map — no shuffle, no state, every metric an
    * integer computed from the row's own token array; the mean-length
    * and repetition bounds are cross-multiplied (3n ≤ chars ≤ 10n;
    * 100·(n − distinct) ≤ 55·n) so the gate is integer-exact with no
    * float division to diverge across engines. The ideal 100 TB filter:
    * embarrassingly parallel, codegen'd end to end. */
  private[queries] def p76GopherRules: Q = (s, d) => gopherRules(Tables.documents(s, d))


  /** The p76 core over any `(doc_id, text)` frame — SpanStripGopherSpec
    * drives each rule's fail branch with engineered documents (the
    * synthetic corpus never trips the mean-word-length bound). */
  private[queries] def gopherRules(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(col("doc_id"),
        size(t).cast(LongType).as("n_words"),
        length(translate(col("text"), " ", "")).cast(LongType)
          .as("n_letters"),
        size(array_distinct(t)).cast(LongType).as("n_distinct"),
        Stopwords.map(w => when(array_contains(t, w), 1L).otherwise(0L))
          .reduce(_ + _).as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 50L && col("n_words") <= 100000L)
          .cast(IntegerType).as("r_words"),
        (col("n_letters") >= lit(3L) * col("n_words") &&
          col("n_letters") <= lit(10L) * col("n_words"))
          .cast(IntegerType).as("r_mean_len"),
        (col("n_stop") >= 2L).cast(IntegerType).as("r_stop"),
        ((col("n_words") - col("n_distinct")) * 100L <=
          col("n_words") * 55L).cast(IntegerType).as("r_dup"))
      .withColumn("keep",
        (col("r_words") * col("r_mean_len") * col("r_stop") * col("r_dup"))
          .cast(IntegerType))
  }


  // p77: hashed-feature space size. Feature tables are bounded at this
  // many rows regardless of corpus size — the broadcast that makes
  // scoring map-side.
  private[queries] val DsirBuckets = 8192L


  /** DSIR-style importance weighting for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): every document is weighted by the log likelihood
    * ratio of a TARGET distribution (here the `en` slice standing in
    * for the high-quality corpus) vs the RAW distribution, both
    * estimated over hashed bigram features with Laplace smoothing —
    * the third member of the curation family beside p71's supervised
    * classifier and p73's unsupervised LM. Integer-exact end to end:
    * log p ratios in 16-fractional-bit [[qlog2]], per-feature numerator
    * deltas precomputed, the shared denominator constant folded into
    * one per-doc multiply.
    *
    * Scale shape: the gram explode is map-side; both feature
    * distributions aggregate to at most [[DsirBuckets]] rows (hashing
    * bounds the model, the whole point of DSIR's hashed features), so
    * the scoring join BROADCASTS the model; the only corpus-keyed
    * shuffle is the final per-doc sum. */
  private[queries] def p77DsirWeights: Q = (s, d) =>
    dsirWeights(docsBalanced(s, d), col("lang") === "en")


  /** The p77 core over any `(doc_id, text)` frame with an `isTarget`
    * predicate over its columns — SpanStripGopherSpec feeds a corpus
    * whose target docs use a disjoint vocabulary and asserts they
    * outweigh the rest. */
  private[queries] def dsirWeights(docsIn: DataFrame,
      isTarget: Column): DataFrame = {
    val grams = docsIn.withColumn("is_target", isTarget)
      .select(col("doc_id"), col("is_target"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("is_target"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"), col("is_target"),
        pmod(h60(concat_ws(" ",
          element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1))), lit(DsirBuckets)).as("f"))
    // ONE model aggregation instead of three corpus passes (r17): the
    // raw and target feature counts are conditional counts of the SAME
    // groupBy, and both corpus totals are exact sums of the ≤DsirBuckets
    // model rows — the gram explode (an md5 per bigram) used to be
    // recomputed for cr, ct AND totals; now it runs once here and once
    // in the scoring join. Counts are integers, so every downstream
    // value is bit-identical (oracle hash-checked).
    val model = grams.groupBy("f").agg(count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
      .staged // bounded: ≤ DsirBuckets rows by construction
    val feat = model.select(col("f"),
      (qlog2(col("ct") + 1) - qlog2(col("cr") + 1)).as("delta_q"))
    // exact totals from the model table; coalesce keeps the empty-corpus
    // values identical to the direct aggregation (count()=0, sum()=NULL)
    val totals = model.agg(
      coalesce(sum(col("cr")), lit(0L)).as("r_tot"),
      sum(col("ct")).as("t_tot"))
    grams.join(broadcast(feat), "f")
      .groupBy("doc_id", "is_target")
      .agg(count(lit(1)).as("n_grams"), sum(col("delta_q")).as("sum_delta"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        col("is_target").cast(IntegerType).as("is_target"),
        col("n_grams"),
        (col("sum_delta") + col("n_grams") *
          (qlog2(col("r_tot") + DsirBuckets)
            - qlog2(col("t_tot") + DsirBuckets))).as("w_q"))
      .withColumn("keep", (col("w_q") > 0L).cast(IntegerType))
  }


  /** End-to-end curation funnel census — the COMPOSED pipeline a
    * pretraining-data run actually executes, reported as the
    * stage-by-stage survivor table every curation report leads with:
    * raw corpus → Gopher rule gate ([[gopherRules]], p76) → exact dedup
    * (p01's content hash, smallest doc_id kept) → near-dedup (p02's
    * banded MinHash + exact-Jaccard verify; of each verified pair the
    * HIGHER-id member is dropped — the greedy first-wins policy, fully
    * deterministic, so the oracle replays the census row for row). Each
    * stage consumes the previous stage's survivors in the canonical
    * cheap-first order: the per-doc rule gate runs on everything, the
    * keyed dedup on rule survivors, and the pairwise-sketch work only on
    * what both earlier gates let through.
    *
    * Scale shape: the rule gate is pure map; exact dedup is ONE
    * digest-keyed shuffle; near-dedup reuses the capped-LSH shapes
    * unchanged (sketch shuffle, banded self-join inside ≤[[MaxBucket]]
    * buckets, broadcast candidate verify) over the thinned survivor
    * set; the census itself is four single-row reductions unioned.
    * Nothing all-pairs, nothing driver-side. */
  private[queries] def p78CurationFunnel: Q = (s, d) =>
    // docsBalanced + ONE disk cut (r18): the funnel binds the corpus
    // many times (w, the rule gate, kept's join back, the census rows),
    // and column pruning specializes each bind's scan so no exchange is
    // reused — at sf10 the raw text was DECODED per bind, fused into
    // the few row-group holder tasks (Profile `stages`: 24-task stages
    // with 9–11 s maxima over 0.08 s medians, half the 22.5 s wall).
    // The doc_id-keyed spread splits decode from compute, and the
    // stagedDisk cut makes every bind read the same checkpoint blocks:
    // one decode total. Census values are pure integer aggregates, so
    // rows are unchanged (oracle-checked).
    curationFunnel(docsBalanced(s, d).stagedDisk)


  /** The p78 core over any `(doc_id, text)` frame — CurationFunnelSpec
    * plants a rule-failing doc, an exact duplicate, and a near-dup pair
    * and asserts each stage drops exactly its target. */
  private[queries] def curationFunnel(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), col("text"),
      size(tokens(col("text"))).cast(LongType).as("n_words"))
    val kept = gopherRules(docs).filter(col("keep") === 1)
      .select("doc_id").join(w, "doc_id")
    val reps = kept
      .groupBy(sha2(col("text"), 256).as("ch"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").join(kept, "doc_id")
      .staged // read 3x (sketch, anti-join, census); subtree has the digest shuffle
    val sig = minhashSigOf(reps.select("doc_id", "text"))
    val dropped = candidatePairs(bandRowsOf(sig), materialize = true)
      .join(sig.select(col("doc_id").as("doc_a"), col("shset").as("sa"),
        col("n").as("na")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("shset").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("ninter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("ninter").cast(DoubleType) /
        (col("na") + col("nb") - col("ninter")) >= JaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val near = reps.join(dropped, Seq("doc_id"), "left_anti")
    def census(no: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_words")), lit(0L)).as("n_tokens"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    census(0, "raw", w)
      .union(census(1, "gopher_rules", kept))
      .union(census(2, "exact_dedup", reps))
      .union(census(3, "near_dedup", near))
  }


  /** Temperature-based mixture sampling (α = 0.5) — the multilingual
    * balancing rule LLM pipelines use beside p46's cap rule: sample
    * language l with probability ∝ p_l^α, flattening the head so
    * low-resource languages keep presence. Determinism across engines
    * is engineered op by op: shares come from exact integer counts,
    * sqrt/divide/multiply are single correctly-rounded IEEE ops, the
    * normalizer Σ p_l^α is a SORTED-ORDER fold (collect the per-lang
    * terms, sort, left-fold — never an unordered SUM whose float result
    * depends on partitioning), and the admission threshold quantizes
    * through p46's floor(rate × 10^6) integer compare. One count
    * shuffle, a langs-sized broadcast, one hash-filtered count — the
    * corpus is scanned twice and never shuffled on a data key. */
  private[queries] def p67TemperatureMix: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_in"))
    val tot = docs.agg(count(lit(1)).as("n_tot"))
    val scored = byLang.crossJoin(broadcast(tot))
      .withColumn("sc", sqrt(col("n_in").cast(DoubleType) /
        col("n_tot").cast(DoubleType)))
    val z = scored.agg(expr(
      "aggregate(sort_array(collect_list(struct(lang, sc))), " +
        "cast(0.0 as double), (acc, x) -> acc + x.sc)").as("z"))
    val rates = scored.crossJoin(broadcast(z))
      .withColumn("q", col("sc") / col("z"))
      .withColumn("keep_rate", least(lit(1.0),
        (col("q") * floor(col("n_tot").cast(DoubleType) / lit(2.0))) /
          col("n_in").cast(DoubleType)))
    val kept = docs.join(rates.select("lang", "keep_rate"), "lang")
      .filter(h60(concat(lit("tmix:"), col("doc_id").cast(StringType)))
        % lit(MixScale) < floor(col("keep_rate") * lit(MixScale.toDouble)))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_in"),
        round(col("q"), 6).as("target_share"),
        round(col("keep_rate"), 6).as("keep_rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }


  /** Corpus snapshot diff — the dataset-versioning primitive behind
    * refreshed-crawl curation: classify every document across two corpus
    * versions as added / removed / changed / unchanged and report the
    * per-(lang, status) census. The two versions are deterministic views
    * of the driver corpus (previous = doc_id≢0 mod 7, refreshed =
    * doc_id≢0 mod 5 with every 11th doc's text amended), mirroring
    * p36's hash-sliced batch derivation. Shape: contents reduce to one
    * md5 digest per side at the scan (at 100 TB the digest would be a
    * stored column — bytes never cross the shuffle), ONE doc_id-keyed
    * full outer join, a map-side three-way classification, and a tiny
    * keyed census aggregation. */
  private[queries] def p63SnapshotDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val prev = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("lang").as("lang_a"),
        md5(col("text")).as("h_a"))
    val next = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"), col("lang").as("lang_b"),
        md5(when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" updated")))
          .otherwise(col("text"))).as("h_b"))
    prev.join(next, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang_a"), col("lang_b")).as("lang"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("lang", "status").agg(count(lit(1)).as("n_docs"))
  }


  /** Per-source quota cap — the RefinedWeb/CCNet-style "at most K
    * documents per domain" step that stops one crawler-friendly site from
    * dominating a training mix. Keeps the `QuotaK` longest documents per
    * source (length as the quality proxy, doc_id as the deterministic
    * tiebreak), through the native bounded-heap top-k operator
    * ([[graft.plans.TopKPerKey]]): each task keeps at most sources×K rows,
    * so the shuffle carries ≤ tasks×sources×K rows and there is no global
    * sort and no full window — the same physical plan q53 measures 1.78×
    * faster than Spark's own WindowGroupLimit path, now exercised as a
    * curation stage rather than a SQL top-k. */
  private[graft] val QuotaK = 20

  private[queries] def p79SourceQuotaCap: Q = (s, d) =>
    graft.plans.TopKPerKey.topK(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      Seq("source"), Seq(("n_chars", false), ("doc_id", true)), QuotaK)


  /** Epoch-materialized mixture: the "N epochs per domain" step of
    * training-mix construction. Each source gets a deterministic epoch
    * count (1–3, keyed on a portable hash of the source name so the DuckDB
    * twin derives the identical plan), and every document materializes one
    * row per epoch with a shard key hashed from (doc_id, epoch) — the
    * deterministic, reproducible global training order. The whole operator
    * is a codegen'd map + explode: ZERO shuffles at any corpus size; at
    * 100 TB the output lands shard-partitioned by a single write-side
    * repartition the consumer chooses. */
  private[graft] val MixEpochMax = 3

  private[graft] val MixShardN = 8

  private[queries] def p80MixtureEpochs: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        (lit(1L) + pmod(h60(col("source")), lit(MixEpochMax.toLong))).as("epochs"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("epochs"))).as("epoch"))
      .select(col("doc_id"), col("source"), col("epoch"),
        pmod(h60(concat(col("doc_id").cast(StringType), lit(":"),
          col("epoch").cast(StringType))), lit(MixShardN.toLong)).as("shard"))


  /** Deterministic quality-propensity sampling with inverse-propensity
    * weights: each document is accepted with probability proportional to
    * its stopword ratio (the classic cheap English-quality proxy),
    * clamped to [0.05, 1], and the survivors carry weight 1/p so any
    * downstream statistic over the sample is unbiased for the corpus.
    * The coin is a portable hash lane (h60(doc_id) mod 2^20) compared to
    * floor(p·2^20) — reproducible across runs, engines, and partitionings,
    * unlike `rand()`. ZERO shuffles at any corpus size: the whole operator
    * is a codegen'd map + filter, the ideal pre-tokenization thinning
    * stage. Every float step (one division, one clamp, one multiply, one
    * floor) is a single correctly-rounded IEEE op, so the DuckDB twin is
    * bit-exact. */
  private[graft] val SampleLanes = 1048576L // 2^20 hash lanes

  private[queries] def p83QualitySampling: Q = (s, d) => {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(t).cast(LongType).as("n_tokens"),
        size(filter(t, x => x.isin(Stopwords: _*))).cast(LongType).as("n_stop"))
      .withColumn("p_acc", greatest(lit(0.05),
        least(lit(1.0), col("n_stop").cast(DoubleType) / col("n_tokens"))))
      .filter(pmod(h60(col("doc_id").cast(StringType)), lit(SampleLanes))
        < floor(col("p_acc") * lit(SampleLanes.toDouble)))
      .select(col("doc_id"), col("n_tokens"),
        round(col("p_acc"), 6).as("accept_p"),
        round(lit(1.0) / col("p_acc"), 6).as("weight"))
  }


  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * priority sampling) — the one sampling regime p30 (stratified),
    * p46/p67 (rate-based mixtures), and p83 (propensity rejection)
    * don't cover: a FIXED-SIZE sample of K docs with inclusion
    * probability increasing in a per-doc weight (token count here —
    * "sample exactly 10k docs ∝ length" is the everyday corpus-
    * inspection job), without replacement, in one distributed pass.
    * E–S keys each item u^(1/w) and keeps the global top-K;
    * equivalently the K SMALLEST −log2(u)/w. Made engine-portable by
    * the deterministic coin (a 32-bit portable-hash lane — rand() is
    * neither reproducible nor partition-stable) and the quantized log:
    * surprisal_q = 32·2^16 − qlog2(h32+1) is an exact integer and
    * priority = surprisal_q / w one correctly-rounded IEEE division —
    * a monotone piecewise-linear variant of the E–S key that replays
    * bit-identically in the oracle. The plan is a scan feeding
    * TakeOrderedAndProject (per-partition K-heaps, K rows to the final
    * stage) — no global sort, no corpus shuffle; the rank window
    * orders K rows. */
  private[queries] val SampleK = 64


  /** The p97 scoring expressions, shared with the streaming reservoir
    * ([[graft.streaming.Streams.weightedReservoir]]) so batch and
    * stream sample by the identical deterministic key. */
  private[graft] def wsampleWeight(text: Column): Column =
    greatest(lit(1L), size(tokens(text)).cast(LongType))

  private[graft] def wsamplePriority(docId: Column, w: Column): Column =
    (lit(32L * 65536L) -
      qlog2(pmod(h60(concat(lit("wsample:"), docId.cast(StringType))),
        lit(4294967296L)) + lit(1L))).cast(DoubleType) / w


  private[queries] def p97WeightedSample: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        wsampleWeight(col("text")).as("w"))
      .withColumn("priority", wsamplePriority(col("doc_id"), col("w")))
    scored.orderBy(col("priority").asc, col("doc_id").asc).limit(SampleK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("priority").asc, col("doc_id").asc)))
      .select(col("rnk"), col("doc_id"), col("lang"), col("w"),
        round(col("priority"), 6).as("priority"))
  }


  /** Share of the corpus token count the [[p120BudgetAllocation]]
    * training budget covers, in percent. Shared with the oracle. */
  private[graft] val TrainBudgetPct = 50L


  /** Quality-greedy budget allocation — the step AFTER p118's
    * scorecard: given a token budget ([[TrainBudgetPct]]% of the
    * corpus), fill it source by source in quality order (Gopher pass
    * rate desc, source asc), taking each source's full token mass
    * until the boundary source gets the remainder and the tail gets
    * zero — the greedy knapsack every "train on the best N tokens"
    * recipe actually runs. Emits the full allocation table: rank,
    * quality, available and allocated tokens per source, so the
    * cut line is visible and auditable.
    *
    * Scale shape: one corpus scan aggregates to |sources| rows;
    * the ordered running sum is a window over THAT bounded table
    * (sources are a catalog-bounded dimension — 20 here, thousands at
    * worst — so the single-partition window holds ~rows = sources,
    * never corpus). Quality ranks by the exact integer ppm (no float
    * compare), budget arithmetic is pure int64. */
  private[queries] def p120BudgetAllocation: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val perSource = gopherRules(docs)
      .select(col("doc_id"), col("keep").cast(LongType).as("keep"))
      .join(docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tok")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_pass"),
        sum(col("n_tok")).as("avail_tokens"))
      .withColumn("pass_ppm", ldiv(col("n_pass") * lit(1000000L),
        col("n_docs")))
    val total = perSource.agg(
      coalesce(sum(col("avail_tokens")), lit(0L)).as("total_tokens"))
    val w = Window.orderBy(col("pass_ppm").desc, col("source"))
    perSource.crossJoin(broadcast(total))
      .withColumn("budget",
        ldiv(col("total_tokens") * lit(TrainBudgetPct), lit(100L)))
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum_before",
        coalesce(sum(col("avail_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("rnk"),
        (col("pass_ppm").cast(DoubleType) / 1000000.0)
          .as("gopher_pass_frac"),
        col("avail_tokens"),
        greatest(lit(0L), least(col("avail_tokens"),
          col("budget") - col("cum_before"))).as("alloc_tokens"))
  }


  /** Token frequency spectrum — the count-of-counts table (Good &
    * Turing 1953; Gale & Sampson 1995's smoothing reads exactly this):
    * per occurrence-count octave (bucket = ⌊log₂ c⌋), how many
    * distinct terms occur that often, their total token mass, and the
    * corpus mass share. The bucket-1 row (hapax legomena) is the
    * Good–Turing unseen-mass estimate N₁/N; a heavy singleton bucket
    * means vocabulary still growing (more data helps), a fat head
    * octave means template repetition. Bucketing is integer-exact:
    * ⌊log₂ c⌋ = len(bin(c)) − 1 in BOTH engines — no float log to
    * diverge.
    *
    * Scale shape: one token-keyed counting shuffle (map-side
    * combined, one row per DISTINCT term), then a ≤64-row octave
    * aggregation; the 1-row total broadcasts for the mass share
    * (p107's exact-ppm rule). Nothing beyond the term table ever
    * shuffles. */
  private[queries] def p121FreqSpectrum: Q = (s, d) =>
    freqSpectrumOf(docsBalanced(s, d))


  /** The p121 core over any (doc_id, text) frame — Round10dOpsSpec
    * plants a corpus with a known spectrum (hapax through head terms)
    * and replays every octave; the driver corpus itself is degenerate
    * here (a ~31-term synthetic vocabulary, no singletons), which the
    * gate records honestly. */
  private[queries] def freqSpectrumOf(docsIn: DataFrame): DataFrame = {
    val termCounts = docsIn
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val buckets = termCounts
      .withColumn("bucket", (length(bin(col("c"))) - 1).cast(IntegerType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("n_occurrences"))
    val total = buckets.agg(
      coalesce(sum(col("n_occurrences")), lit(0L)).as("total"))
    buckets.crossJoin(broadcast(total))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("c_lo"),
        col("n_terms"), col("n_occurrences"),
        (ldiv(col("n_occurrences") * lit(1000000L), col("total"))
          .cast(DoubleType) / 1000000.0).as("mass_frac"))
  }
}
