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

/** Text analysis and tokenization: stats, language-ID, TF-IDF, PMI,
  * winnowing, BPE train/apply, vocab/OOV, inverted index + BM25,
  * LM fluency and perplexity families.
  *
  * Implementation module of [[Pipeline]] (mixed into the one public
  * object; members are package-private to graft.queries). Split from
  * the former monolith in round 12 with zero behavior change. */
trait PipelineText extends PipelineCore {


  // ---- text analysis -----------------------------------------------------

  /** Per-document text metrics: token counts, type/token ratio, mean token
    * length, stopword ratio, a linear quality score, a stopword-based
    * language-ID heuristic, and an md5 content fingerprint. Pure per-row
    * map after the coarse-input rebalance (see docsBalanced) — no keyed
    * shuffle at any scale. All ratios are single divisions of exact
    * integers, so they are bit-identical across engines. */
  private[queries] def p06TextStats: Q = (s, d) => {
    val t = tokens(col("text"))
    docsBalanced(s, d).select(
      col("doc_id"),
      size(t).cast(LongType).as("n_tokens"),
      // BPE-ish sub-word count: letter runs, digit runs, other glyphs —
      // the usual pre-tokenizer regex (identical under Java and RE2)
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast(LongType)
        .as("n_regex_tokens"),
      size(array_distinct(t)).cast(LongType).as("n_uniq"),
      (size(array_distinct(t)) / size(t)).as("uniq_ratio"),
      (aggregate(t, lit(0), (a, x) => a + length(x)) / size(t)).as("avg_tok_len"),
      (size(filter(t, x => x.isin(Stopwords: _*))) / size(t)).as("stop_ratio"),
      md5(col("text")).as("fingerprint"))
      .withColumn("quality",
        round((col("stop_ratio") + col("uniq_ratio")) / 2, 6))
      .withColumn("lang_pred",
        when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("unk")))
  }


  /** Corpus profile per (lang, source): doc counts, mean chars, total
    * tokens. One keyed shuffle with map-side combine; means are exact
    * integer sums divided once. */
  private[queries] def p07LangProfile: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")) / count(lit(1))).as("avg_chars"),
        sum(size(tokens(col("text")))).cast(LongType).as("total_tokens"))


  /** TF-IDF top terms per document. tf and df are exact integer counts
    * (two keyed shuffles with map-side combine); the corpus size joins in
    * as a broadcast scalar; scores are rounded to 4 decimals before the
    * per-doc top-3 ranking so a last-ULP ln() difference between engines
    * can never flip an order. */
  private[queries] def p17TfidfTopTerms: Q = (s, d) => {
    val terms = docsBalanced(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") *
        log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "term", "score")
  }


  /** Top-25 bigrams by DOCUMENT frequency (shingles are per-doc distinct,
    * so `n` counts documents containing the bigram, not raw occurrences —
    * the usual collocation-mining statistic). One counting shuffle with
    * map-side combine, then the same two-phase top-k as the ANN path
    * (salted local rank bounds any reducer before the global rank);
    * deterministic tie-break on the bigram itself. */
  private[queries] def p18BigramTop: Q = (s, d) => {
    val counted = docsBalanced(s, d)
      .select(explode(shingles(tokens(col("text")), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
    val local = Window.partitionBy(pmod(hash(col("bigram")), lit(64)))
      .orderBy(col("n").desc, col("bigram").asc)
    val global = Window.partitionBy(lit(1))
      .orderBy(col("n").desc, col("bigram").asc)
    counted
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= 25)
      .withColumn("rnk", row_number().over(global).cast(IntegerType))
      .filter(col("rnk") <= 25)
      .select("rnk", "bigram", "n")
  }


  /** Rolling-window document fingerprint (winnowing-style k-min sketch):
    * hash every 8-character sliding window of the text and keep each
    * document's 4 smallest window hashes. Two near-identical documents
    * share most windows, so their sketches collide on most slots — the
    * classic plagiarism/near-dup fingerprint (winnowing), with the k-min
    * selection standing in for per-stride minima. Pure map (the window
    * explode) + one keyed top-k per doc; rows scale with text bytes,
    * never with doc pairs. */
  private[queries] def p21WinnowFingerprint: Q = (s, d) => {
    val W = 8
    val wins = docsBalanced(s, d)
      .select(col("doc_id"), col("text"),
        explode(when(length(col("text")) >= W,
          sequence(lit(1), length(col("text")) - (W - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"), h60(expr(s"substr(text, i, $W)")).as("whash"))
      .distinct()
    val w = Window.partitionBy("doc_id").orderBy(col("whash").asc)
    wins.withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= 4)
      .select("doc_id", "rnk", "whash")
  }


  private[queries] val EnBigrams = Seq("th", "he", "in", "er", "an",
    "re", "on", "at", "en", "nd")

  private[queries] val FrBigrams = Seq("le", "de", "es", "en", "on",
    "nt", "qu", "ou", "ai", "eu")


  /** Character-n-gram language ID: score each document's distinct char
    * bigrams against per-language profile sets (the classic Cavnar–Trenkle
    * n-gram profile method, reduced to two tiny profiles) and predict the
    * higher-scoring language. Pure per-row map after the coarse-input
    * rebalance — profiles are literals baked into the expression, so this
    * is one pass at any scale. */
  private[queries] def p22LangidNgram: Q = (s, d) => {
    val grams = expr("array_distinct(transform(" +
      "sequence(1, greatest(length(text) - 1, 1)), i -> substr(text, i, 2)))")
    def hits(profile: Seq[String]) =
      size(array_intersect(col("grams"), array(profile.map(lit): _*)))
        .cast(LongType)
    docsBalanced(s, d)
      .withColumn("grams", grams)
      .select(col("doc_id"), col("lang"),
        hits(EnBigrams).as("en_hits"), hits(FrBigrams).as("fr_hits"))
      .withColumn("pred",
        when(col("en_hits") >= col("fr_hits"), lit("en")).otherwise(lit("fr")))
  }


  /** PMI collocation mining: pointwise mutual information of adjacent
    * word pairs, ln((c12/B) / ((c1/T)(c2/T))) over OCCURRENCE counts
    * (unigram total T, bigram total B) — the classic "which word pairs
    * co-occur far above chance" statistic. Three counting shuffles with
    * map-side combine plus two broadcast scalar totals; scores are
    * rounded to 4 decimals before ranking so a last-ULP ln() difference
    * can never flip an order, and the top-k uses the same salted
    * two-phase pattern as p18. */
  private[queries] def p25PmiCollocations: Q = (s, d) => {
    val toks = docsBalanced(s, d).select(explode(tokens(col("text"))).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
    // totals come from the tiny aggregated sides (like bTot below), never
    // a second explode pass over the corpus
    val tTot = uni.agg(sum(col("c")).as("t_total"))
    val bi = shingleRows(s, d, 2)
      .groupBy(col("shingle").as("bigram")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val bTot = bi.agg(sum(col("c12")).as("b_total"))
    val scored = bi.filter(col("c12") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .withColumn("pmi", round(log(
        (col("c12").cast(DoubleType) * col("t_total") * col("t_total")) /
          (col("b_total").cast(DoubleType) * col("c1") * col("c2"))), 4))
    val local = Window.partitionBy(pmod(hash(col("bigram")), lit(64)))
      .orderBy(col("pmi").desc, col("bigram").asc)
    val global = Window.partitionBy(lit(1))
      .orderBy(col("pmi").desc, col("bigram").asc)
    scored
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= 15)
      .withColumn("rnk", row_number().over(global).cast(IntegerType))
      .filter(col("rnk") <= 15)
      .select("rnk", "bigram", "c12", "pmi")
  }


  // BPE-ish pre-tokenizer: contraction suffixes, letter runs, digit
  // runs, single punctuation marks — the GPT-2 pre-tokenizer family
  // minus its lookahead (which RE2, and therefore the DuckDB twin,
  // cannot express). On the all-lowercase corpus it coincides with
  // whitespace splitting; on punctuated text it splits finer. Second
  // portability condition: Java regex walks UTF-16 code units while RE2
  // walks code points, so `[^a-z0-9 ]` counts a supplementary-plane
  // character (emoji) as 2 tokens vs RE2's 1 — fine on this BMP-only
  // corpus, but a non-BMP corpus needs a code-point-aligned pattern.
  private[graft] val BpeTokenRe =
    "'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9 ]"


  /** Token counting both ways the brief names: whitespace tokens and a
    * BPE-style regex pre-tokenization. Pure per-row map after the input
    * rebalance — regexp_extract_all is a codegen'd expression, no UDF. */
  private[queries] def p35TokenCounts: Q = (s, d) =>
    docsBalanced(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeTokenRe), lit(0)))
          .cast(LongType).as("n_bpe_tokens"))


  private[queries] val PostingsK = 10


  /** Inverted index with bounded posting lists: exact document frequency
    * per term plus the top-10 postings by (tf DESC, doc_id). The tf and
    * df tables are plain map-side-combinable aggregations; the top-k is
    * the same salted two-phase rank as p30, so a stopword-grade term
    * occurring in most of the corpus prunes to salts×k rows before the
    * final per-term window — no single reducer ever sorts a full posting
    * list, which is what makes per-term state bounded at corpus scale. */
  private[queries] def p39InvertedIndex: Q = (s, d) => {
    val salts = 32
    val tf = docsBalanced(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wLocal = Window.partitionBy(col("term"), col("salt"))
      .orderBy(col("tf").desc, col("doc_id"))
    val wFinal = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id"))
    tf.withColumn("salt", pmod(col("doc_id"), lit(salts.toLong)))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= PostingsK)
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= PostingsK)
      .join(df, "term")
      .select(col("term"), col("df"), col("rk"), col("doc_id"), col("tf"))
  }


  private[queries] val VocabTopK = 16


  /** Vocabulary build + out-of-vocabulary rate: the top-V corpus terms
    * by total occurrence count (two-phase salted top-k, so no reducer
    * sees the full term table), then each (lang, source) slice's OOV
    * rate — the fraction of token OCCURRENCES outside the vocabulary,
    * the signal a tokenizer-training / corpus-mixing step reads. The
    * rate is a micro-average (two exact integer sums, one division), so
    * no floating-point accumulation order exists anywhere. The tiny
    * vocab joins the per-doc term counts un-hinted — AQE broadcasts it. */
  private[queries] def p43VocabOov: Q = (s, d) => {
    val occ = docsBalanced(s, d).select(col("doc_id"), col("lang"),
      col("source"), explode(tokens(col("text"))).as("term"))
    val docTf = occ.groupBy("doc_id", "lang", "source", "term")
      .agg(count(lit(1)).as("tf"))
    val corpus = docTf.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val local = Window.partitionBy(pmod(hash(col("term")), lit(64)))
      .orderBy(col("cnt").desc, col("term").asc)
    val global = Window.partitionBy(lit(1))
      .orderBy(col("cnt").desc, col("term").asc)
    val vocab = corpus
      .withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= VocabTopK)
      .withColumn("rnk", row_number().over(global))
      .filter(col("rnk") <= VocabTopK)
      .select(col("term"), lit(1).as("in_vocab"))
    docTf.join(vocab, Seq("term"), "left_outer")
      .groupBy("lang", "source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast(DoubleType) / col("n_tokens"), 6))
  }


  /** Bigram-LM fluency score — the CCNet-family "does this read like the
    * corpus" quality signal: each doc's score is the mean quantized
    * conditional log-probability log2 p(w2|w1) over its adjacent token
    * pairs, with the LM being the corpus's own bigram table (the
    * stand-in for CCNet's external wiki LM; every bigram is in-model by
    * construction, so no backoff branch). The quantization is the whole
    * trick: log2 is taken as bit-length — length(bin(cnt)) — so the
    * per-pair term (bitlen(bigram cnt) − bitlen(head-unigram cnt)) and
    * the per-doc sum are EXACT INTEGERS on both engines, with one final
    * division per doc; no libm log whose last-ULP rounding could split
    * the hash gate. Shape: one pair explode, two map-side-combinable
    * counts, two hash-keyed joins back, one keyed agg — all linear in
    * corpus tokens, no pairwise work. */
  private[queries] def p51LmFluency: Q = (s, d) => {
    val pairs = docsBalanced(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(when(size(col("t")) >= 2, sequence(lit(1), size(col("t")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
    // `pairs` is read by three consumers (uni, bi, the occurrence join)
    // but deliberately NOT checkpointed: the recompute is pure codegen
    // map work (split + element_at) and A/B timing showed the
    // materialization costs more than it saves (1.51 s vs 1.59 s at
    // sf0.1) — unlike p02/p52, whose reused subtrees contain a SHUFFLE
    val uni = pairs.groupBy("w1").agg(count(lit(1)).as("cu"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // the per-pair term joins into the (much smaller) bigram model table
    // first, so the full occurrence table pays ONE keyed join, not two
    val model = bi.join(uni, "w1")
      .select(col("w1"), col("w2"),
        (length(bin(col("cb"))) - length(bin(col("cu"))))
          .cast(LongType).as("q"))
    val perDoc = pairs.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("qsum"))
    Tables.documents(s, d).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("qsum").cast(DoubleType) / col("n_bigrams"), 6)
          .as("lm_score"))
  }


  /** Ordered token bigrams of every doc as (doc_id, prev, cur) rows —
    * occurrence bigrams (NOT the distinct shingle set `shingles` builds),
    * shared by the p73 LM trainer/scorer and p74's phrase-term index.
    * Docs under 2 tokens yield no rows. DuckDB twin: unnest a
    * generate_series over the token list and index `t[i]`/`t[i+1]`. */
  private[graft] def bigramPairs(df: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val ex = extra.map(col)
    df.select(col("doc_id") +: ex :+ tokens(col("text")).as("t"): _*)
      .filter(size(col("t")) >= 2)
      .select(col("doc_id") +: ex :+ col("t") :+
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"): _*)
      .select(col("doc_id") +: ex :+
        element_at(col("t"), col("i")).as("prev") :+
        element_at(col("t"), col("i") + 1).as("cur"): _*)
  }


  /** CCNet-style perplexity bucketing — the UNSUPERVISED LM quality
    * filter beside p71's supervised classifier, the other half of the
    * production curation pair: a bigram LM with Laplace smoothing is
    * trained on the 90% hash slice (the same deterministic split p71
    * uses), every held-out doc is scored in quantized bits via the same
    * 16-fractional-bit [[qlog2]] (surprisal is an exact integer sum —
    * qlog2(ctx+V) − qlog2(cnt+1) per bigram), and docs land in
    * head/middle/tail TERCILES of bits-per-token — CCNet's curation
    * signal, lowest perplexity first.
    *
    * Scale shape: training is ONE (prev, cur)-keyed count shuffle (the
    * model); context totals aggregate FROM the model (never a second
    * corpus pass); scoring pays one keyed model join. The tercile
    * cutoffs come from a VALUE-histogram of the quantized score — at
    * most ~2^21 distinct bpt values exist REGARDLESS of corpus size
    * (quantization bounds the value domain), so the cumulative window
    * runs over a bounded table and no global sort of docs happens
    * anywhere. Docs under 2 tokens have no bigrams and are excluded
    * (mirrored in the oracle). */
  private[queries] def p73PerplexityBuckets: Q = (s, d) =>
    perplexityCensus(Tables.documents(s, d)
      .withColumn("is_test",
        pmod(h60(col("doc_id").cast(StringType)), lit(10)) === 9))


  /** The p73 census over any `(doc_id, text, is_test)` frame: the
    * per-bucket aggregate of [[perplexityDocBuckets]]. */
  private[queries] def perplexityCensus(docs: DataFrame): DataFrame =
    perplexityDocBuckets(docs)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("bpt_q")).as("min_bpt_q"),
        max(col("bpt_q")).as("max_bpt_q"),
        sum(col("bpt_q")).as("sum_bpt_q"))


  /** The p73 core: every held-out doc scored and tercile-bucketed as
    * (doc_id, bpt_q, bucket) — PerplexityBm25Spec feeds corpora with
    * engineered fluent/garbled holdout docs through it and asserts they
    * land in head/tail. */
  private[queries] def perplexityDocBuckets(docs: DataFrame): DataFrame = {
    val model = bigramPairs(docs.filter(!col("is_test")))
      .groupBy("prev", "cur").agg(count(lit(1)).as("cnt"))
      .staged // read twice: the ctx aggregation and the scoring join
    val ctx = model.groupBy("prev").agg(sum(col("cnt")).as("ctx"))
    val vsize = docs.filter(!col("is_test"))
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = bigramPairs(docs.filter(col("is_test")))
      .join(model, Seq("prev", "cur"), "left_outer")
      .join(ctx, Seq("prev"), "left_outer")
      .crossJoin(broadcast(vsize))
      .select(col("doc_id"),
        (qlog2(coalesce(col("ctx"), lit(0L)) + col("v"))
          - qlog2(coalesce(col("cnt"), lit(0L)) + lit(1L))).as("bits_q"))
      .groupBy("doc_id")
      .agg(sum(col("bits_q")).as("bits_q"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), ldiv(col("bits_q"), col("n_bigrams")).as("bpt_q"))
      .staged // read twice: the cutoff histogram and the final bucketing
    val hist = scored.groupBy("bpt_q").agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum(col("n")).as("n_docs"))
    val wCum = Window.orderBy(col("bpt_q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist.withColumn("cum", sum(col("n")).over(wCum))
      .crossJoin(broadcast(tot))
      .agg(min(when(col("cum") * 3 >= col("n_docs"), col("bpt_q"))).as("c1"),
        min(when(col("cum") * 3 >= col("n_docs") * 2, col("bpt_q"))).as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("bpt_q"),
        when(col("bpt_q") <= col("c1"), lit("head"))
          .when(col("bpt_q") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }


  private[queries] val Bm25S = 65536L

  private[graft] val Bm25TopK = 10


  /** BM25 keyword retrieval — the lexical-search twin of the ANN family
    * (p04/p05/p20): ten probe docs' term sets retrieve their top-10
    * highest-scoring other documents through the inverted-postings join
    * (p39's index shape, consumed instead of displayed). Terms are word
    * BIGRAMS (phrase indexing): the corpus's unigram vocabulary is a few
    * dozen tokens with near-uniform document frequency, so unigram idf
    * carries no signal — the standard fix when unigrams saturate, and the
    * same move a positional/phrase index makes. Okapi BM25
    * (k1 = 1.2, b = 0.75) is computed ENTIRELY in scaled-integer
    * arithmetic so the oracle replays it bit for bit: idf is
    * qlog2(D+1) − qlog2(df) (≥ 0 always, no negative-idf clamp needed);
    * the length normalization dl/avgdl is quantized to 16 fractional
    * bits as r = (dl·2^16·D) div T; each term contributes
    * (idf_q·tf·⌊2.2·2^16⌋) div (tf·2^16 + (0.3·2^16 + 0.9·r rounded by
    * integer div 10)); the doc score is the exact integer term sum.
    * Every floor-division quotient and product stays below 2^53 at any
    * realistic per-doc length (at extreme D·dl the r product moves to
    * 128-bit/decimal arithmetic — the quantization itself is unchanged).
    *
    * Scale shape: tf is one (doc, token) count shuffle, staged because
    * four consumers read it (dl, df, the query side, the postings side);
    * df·20 ≤ D prunes stopword-class postings BEFORE the join (the
    * impact-pruning production BM25 does at index build), bounding any
    * token's candidate fan-out at D/20; scoring is one postings join +
    * one (probe, doc) keyed sum; top-10 per probe is the salted
    * two-phase window. Nothing is ever all-pairs: work is
    * Σ_{query tokens} df(t), the classic inverted-index bound. */
  private[queries] def p74Bm25Retrieval: Q = (s, d) =>
    bm25TopDocsServed(s, d, probeMax = 10L)


  /** The p74 core over any `(doc_id, text)` frame, probes = doc_id <
    * probeMax — PerplexityBm25Spec plants a near-copy of a probe doc and
    * asserts it retrieves at rank 1. */
  private[queries] def bm25TopDocs(docsIn: DataFrame,
      probeMax: Long): DataFrame = {
    val tf = bigramPairs(docsIn)
      .select(col("doc_id"),
        concat_ws(" ", col("prev"), col("cur")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .stagedDisk // one row per (doc, distinct bigram): corpus-token-sized
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("d_docs"), sum(col("dl")).as("t_toks"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val qtoks = tf.filter(col("doc_id") < probeMax)
      .select(col("doc_id").as("probe_id"), col("token"))
      .join(df, "token")
      .crossJoin(broadcast(stats))
      .filter(col("df") * 20 <= col("d_docs"))
      .select(col("probe_id"), col("token"),
        (qlog2(col("d_docs") + 1) - qlog2(col("df"))).as("idf_q"),
        col("d_docs"), col("t_toks"))
    val cands = qtoks.join(tf, "token")
      .filter(col("doc_id") =!= col("probe_id"))
      .join(dl, "doc_id")
      .withColumn("r",
        ldiv(col("dl") * lit(Bm25S) * col("d_docs"), col("t_toks")))
      .withColumn("den", col("tf") * lit(Bm25S)
        + ldiv(lit(3L * Bm25S) + lit(9L) * col("r"), lit(10L)))
      .withColumn("term_q",
        ldiv(col("idf_q") * col("tf") * lit(22L * Bm25S / 10L), col("den")))
    val scoredDocs = cands.groupBy("probe_id", "doc_id")
      .agg(sum(col("term_q")).as("score_q"))
    val local = Window
      .partitionBy(col("probe_id"), pmod(hash(col("doc_id")), lit(64)))
      .orderBy(col("score_q").desc, col("doc_id").asc)
    val global = Window.partitionBy("probe_id")
      .orderBy(col("score_q").desc, col("doc_id").asc)
    scoredDocs.withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= Bm25TopK)
      .withColumn("rnk", row_number().over(global).cast(IntegerType))
      .filter(col("rnk") <= Bm25TopK)
      .select("probe_id", "doc_id", "rnk", "score_q")
  }


  /** The STATIC BM25 index the streaming retrieval twin joins — the
    * term-at-a-time materialization of [[bm25TopDocs]]'s arithmetic:
    * one (token, doc_id, term_q) row per impact-surviving posting,
    * where term_q is the COMPLETE per-term BM25 contribution (idf is
    * token-level, tf/length-norm doc-level — nothing in the Okapi term
    * depends on the query, so the whole score term precomputes at
    * index build). A query's doc score is then just the SUM of its
    * matching postings' term_q — which is what production impact-
    * ordered indexes store. Same tf chain, same scaled-integer
    * arithmetic, same df·20 ≤ D pruning as the batch op, so a stream
    * probe's scores are bit-identical to batch p74's. */
  private[graft] def bm25Postings(docsIn: DataFrame): DataFrame =
    bm25PostingsFromTf(bigramPairs(docsIn)
      .select(col("doc_id"),
        concat_ws(" ", col("prev"), col("cur")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .staged) // read 3x: dl, df, and the posting rows


  /** [[bm25Postings]] from an already-built (doc_id, token, tf) table —
    * per-doc term counts are independent of the rest of the corpus, so
    * a corpus SLICE's tf is exactly the full tf filtered; p128 builds
    * tf once and derives both index states from it (the global stats
    * that differ — df, avgdl, D — recompute per state from the sliced
    * tf, which is the point of the audit). */
  private[graft] def bm25PostingsFromTf(tf: DataFrame): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("d_docs"), sum(col("dl")).as("t_toks"))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .filter(col("df") * 20 <= col("d_docs"))
      .select(col("token"),
        (qlog2(col("d_docs") + 1) - qlog2(col("df"))).as("idf_q"))
    tf.join(idf, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("r",
        ldiv(col("dl") * lit(Bm25S) * col("d_docs"), col("t_toks")))
      .withColumn("den", col("tf") * lit(Bm25S)
        + ldiv(lit(3L * Bm25S) + lit(9L) * col("r"), lit(10L)))
      .select(col("token"), col("doc_id"),
        ldiv(col("idf_q") * col("tf") * lit(22L * Bm25S / 10L), col("den"))
          .as("term_q"))
  }


  /** The corpus's BM25 postings index as a named ARTIFACT — the
    * posture [[bm25Postings]]'s scaladoc describes: the impact-ordered
    * index is built once per session and checkpointed for all consumers
    * (p74, p129, p135 — previously each re-ran the corpus-sized tf
    * chain), never rebuilt per query. */
  private[graft] def bm25PostingsArt(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.cached(s, d, "bm25_postings") {
      bm25Postings(docsBalanced(s, d)).staged
    }


  /** [[bm25TopDocs]] SERVED from the postings artifact instead of a
    * per-query index build: the probe docs' distinct term bigrams (a
    * probeMax-bounded scan — the filter pushes to the corpus scan)
    * join the precomputed postings and SUM their complete term_q
    * score terms — term-at-a-time retrieval, the way an inverted
    * index is actually consumed. Bit-identical to [[bm25TopDocs]] by
    * construction (PerplexityBm25Spec pins postings-sum ≡ topdocs
    * scores; the df·20 ≤ D pruning lives in the postings, so the
    * token join intersects to exactly the batch candidate set), same
    * salted two-phase top-k tail. */
  private[graft] def bm25TopDocsServed(s: SparkSession, d: String,
      probeMax: Long): DataFrame = {
    val postings = bm25PostingsArt(s, d)
    val probeToks = bigramPairs(
        docsBalanced(s, d).filter(col("doc_id") < probeMax))
      .select(col("doc_id").as("probe_id"),
        concat_ws(" ", col("prev"), col("cur")).as("token"))
      .distinct()
    val scoredDocs = probeToks.join(postings, "token")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id")
      .agg(sum(col("term_q")).as("score_q"))
    val local = Window
      .partitionBy(col("probe_id"), pmod(hash(col("doc_id")), lit(64)))
      .orderBy(col("score_q").desc, col("doc_id").asc)
    val global = Window.partitionBy("probe_id")
      .orderBy(col("score_q").desc, col("doc_id").asc)
    scoredDocs.withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= Bm25TopK)
      .withColumn("rnk", row_number().over(global).cast(IntegerType))
      .filter(col("rnk") <= Bm25TopK)
      .select("probe_id", "doc_id", "rnk", "score_q")
  }


  /** Per-language shingle vocabulary profile, rows produced by the
    * native [[graft.functions.ShingleRows]] generator (the UDTF-category
    * Catalyst extension) instead of the explode(sequence)+element_at
    * build: totals via one map-side-combinable groupBy, the top shingle
    * via the row_number()<=1 pattern TopKRewriteRule re-plans onto the
    * bounded-heap operator. The generator measured at parity (0.96x)
    * with the codegen'd explode form under the p02 sketch consumer at
    * sf0.1 — digest+agg work dominates — so the generator is surfaced
    * here and via SQL `shingle_rows(...)` while p02 keeps its measured
    * form (PLANS.md, "Round-7: native shingle Generator A/B"). */
  private[queries] def p59ShingleVocab: Q = (s, d) => {
    val sh = docsBalanced(s, d)
      .select(col("lang"), graft.functions.ShingleRows.shingleRows(col("text"), ShingleW))
    val counts = sh.groupBy("lang", "shingle").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("lang")
      .agg(sum("cnt").as("n_shingles"), count(lit(1)).as("n_distinct"))
    val top = counts
      .withColumn("rn", row_number().over(Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("shingle"))))
      .filter(col("rn") === 1).drop("rn")
    totals.join(top, "lang")
      .select(col("lang"), col("n_shingles"), col("n_distinct"),
        col("shingle").as("top_shingle"), col("cnt").as("top_cnt"))
  }


  /** Merge rounds learned by p62 — fixed so the oracle can unroll. */
  private[queries] val BpeRounds = 3


  /** BPE merge induction — tokenizer training over the corpus. Learns
    * the first `BpeRounds` byte-pair-encoding merges: the word-frequency
    * table is built once (the ONLY corpus-sized stage: one token explode
    * into one keyed shuffle, then checkpointed), and every subsequent
    * stage is vocab-bounded — exactly how production BPE trainers scale,
    * since pair statistics over words×freq are identical to pair
    * statistics over the raw corpus. Each round: adjacent-symbol pairs
    * weighted by word frequency (one vocab-table pass + one keyed
    * shuffle), the argmax pair by (count, pair) — a 1-row
    * TakeOrderedAndProject broadcast, never a driver collect — and the
    * merge applied as a left-to-right fold over each word's symbols
    * (canonical greedy non-overlapping application: a fresh merge result
    * never immediately re-merges as the LEFT side within the round).
    * Words are restricted to lowercase-alpha length≥2 (single-symbol
    * words carry no pairs and never influence merges). The fold seeds
    * the accumulator with the first symbol so no index ever touches an
    * empty array. Output: one row per round — the merged pair and its
    * weighted count at selection time. The DuckDB oracle replays the
    * identical fold via list_reduce over singleton-wrapped symbols
    * (DuckDB 1.0's reduce has no initial-value form; element type =
    * accumulator type = list makes the first element the seed). */
  /** The corpus word-frequency table p62 trains on and p66 tokenizes —
    * one definition so the regex/length filter can never diverge
    * between learn and apply (the SQL side shares sqlBpeChain's wf). */
  private[queries] def corpusWordFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))


  private[queries] def p62BpeMerges: Q = (s, d) =>
    bpeLearnMerges(corpusWordFreq(s, d), BpeRounds)


  /** Canonical leftmost non-overlapping merge of the cross-joined
    * winner pair (a, b) into symbol list `l`, as a seeded fold — shared
    * by the global (p62) and per-key (p64) BPE learners. */
  private[queries] val BpeMergeFold =
    """aggregate(
      |  slice(l, 2, size(l) - 1),
      |  array(element_at(l, 1)),
      |  (acc, x) ->
      |    CASE WHEN element_at(acc, size(acc)) = a AND x = b
      |         THEN concat(slice(acc, 1, size(acc) - 1),
      |                     array(concat(a, b)))
      |         ELSE concat(acc, array(x)) END)""".stripMargin


  /** The p62 core over any (w, freq) word table — rounds-parametric so
    * the property suite can check the learned merges against an
    * in-memory canonical BPE trainer on arbitrary corpora. */
  private[graft] def bpeLearnMerges(words: DataFrame, rounds: Int): DataFrame =
    bpeLearnState(words, rounds)._1


  /** The global learner returning BOTH the merge table and the final
    * symbolized vocabulary (w, freq, l) — p62 reports the former, p66
    * tokenizes with the latter. The ≤1-row winner joins back LEFT on a
    * constant key (not a cross join): a winner-less round — no pairs
    * anywhere — leaves every symbol list untouched (NULL never equals
    * in the fold's CASE) instead of emptying the vocabulary, mirrored
    * in the oracle's LEFT JOIN ON TRUE. */
  private[graft] def bpeLearnState(words: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val (wins, syms) = bpeLearnRounds(words, rounds)
    (wins.zipWithIndex.map { case (w, i) =>
      w.select(lit(i + 1).as("round"), col("a").as("left_sym"),
        col("b").as("right_sym"), concat(col("a"), col("b")).as("merged"),
        col("cnt"))
    }.reduce(_ union _), syms)
  }


  /** The learner's raw state: each round's ≤1-row winner (a, b, cnt) in
    * rank order — the static merge artifacts the streaming tokenizer
    * joins against — plus the final symbolized vocabulary. */
  private[graft] def bpeLearnRounds(words: DataFrame, rounds: Int)
      : (Seq[DataFrame], DataFrame) = {
    val wf = words
      .withColumn("l", split(col("w"), ""))
      .select("w", "freq", "l")
      .staged
    def winnerOf(syms: DataFrame): DataFrame = syms
      .select(col("freq"),
        explode(when(size(col("l")) >= 2,
          sequence(lit(1), size(col("l")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("l"))
      .select(col("freq"), element_at(col("l"), col("i")).as("a"),
        element_at(col("l"), col("i") + 1).as("b"))
      .groupBy("a", "b").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    val (syms, winners) = (1 to rounds).foldLeft((wf, Seq.empty[DataFrame])) {
      case ((s0, acc), _) =>
        val win = winnerOf(s0).staged
        // NOT staged per round: the global vocabulary is small enough
        // that re-running the merge folds costs less than checkpoint
        // writes (A/B r18: staging regressed p62 0.49 -> 0.62 s). The
        // KEYED learner (bpeLearnStateBy) does stage per round — its
        // lang-keyed vocabulary is NumLangs times wider and won its A/B.
        (bpeApplyMerge(s0, win, Seq("w", "freq", "l")), acc :+ win)
    }
    (winners, syms)
  }


  /** One merge round applied to any frame with a symbol-list column `l`:
    * the ≤1-row winner LEFT-joins on a constant key (winner-less rounds
    * pass rows through — NULL never merges in the fold). Shared by the
    * batch learner and the streaming tokenizer. */
  private[graft] def bpeApplyMerge(syms: DataFrame, win: DataFrame,
      keep: Seq[String]): DataFrame = syms
    .withColumn("k", lit(1))
    .join(broadcast(win.select(col("a"), col("b")).withColumn("k", lit(1))),
      Seq("k"), "left")
    .withColumn("l", expr(BpeMergeFold))
    .select(keep.head, keep.tail: _*)


  /** BPE apply — tokenize the corpus with the merges p62 learned, in
    * the same query: the final symbolized vocabulary (still
    * vocab-bounded — occurrences never re-tokenize, their word does)
    * aggregates to the corpus compression summary. Exact integers end
    * to end: symbol counts before (= characters) and after the merges,
    * weighted by word frequency. */
  private[queries] def p66BpeApply: Q = (s, d) => {
    val (_, syms) = bpeLearnState(corpusWordFreq(s, d), BpeRounds)
    syms.agg(
      count(lit(1)).as("n_words"),
      sum(col("freq")).as("n_occurrences"),
      sum(col("freq") * length(col("w"))).as("syms_before"),
      sum(col("freq") * size(col("l"))).as("syms_after"))
      .withColumn("syms_saved", col("syms_before") - col("syms_after"))
  }


  /** Per-language BPE merge induction — one tokenizer per language in a
    * single distributed pass. The same vocab-bounded round structure as
    * p62, but each round's argmax is PER KEY: a (key, pair)-keyed count
    * shuffle, a per-key row_number argmax (which the TopK rewrite plans
    * through the native bounded-heap operator), and the winners — at
    * most one row per language — broadcast into a key-equi-join for the
    * merge fold. No driver loop, no per-language job: 50 languages or
    * 5000 cost the same three rounds. A language whose words run out of
    * pairs simply stops producing winners (the inner join retires its
    * vocabulary, mirrored in the oracle). */
  private[queries] def p64BpeMergesByLang: Q = (s, d) =>
    bpeLearnMergesBy(
      Tables.documents(s, d)
        .select(col("lang").as("g"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]{2,}$"))
        .groupBy("g", "w").agg(count(lit(1)).as("freq")),
      BpeRounds)
      .select(col("g").as("lang"), col("round"), col("left_sym"),
        col("right_sym"), col("merged"), col("cnt"))


  /** The keyed BPE core over any (g, w, freq) word table — the per-key
    * twin of `bpeLearnMerges`, rounds-parametric for the property
    * suite. */
  private[graft] def bpeLearnMergesBy(words: DataFrame, rounds: Int): DataFrame =
    bpeLearnStateBy(words, rounds)._1


  /** The keyed learner returning BOTH the merge table and the final
    * symbolized vocabulary (g, freq, l) — p64 reports the former, p95
    * measures fertility on the latter. The apply step LEFT-joins each
    * round's ≤1-per-key winner (NULL never merges in the fold), so a
    * key that runs out of pairs keeps its vocabulary unchanged instead
    * of losing it. Winners are PROVABLY identical to the former
    * inner-join form: a key lacks a winner only when its vocabulary has
    * no adjacent pair at all, and a pairless vocabulary passed through
    * unchanged still yields no pair next round — so retired keys stop
    * producing winners either way, and the oracle's inner-join replay
    * of p64 still matches. */
  private[graft] def bpeLearnStateBy(words: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val wf = words
      .withColumn("l", split(col("w"), ""))
      .select("g", "freq", "l")
      .staged
    def winnersOf(syms: DataFrame): DataFrame = syms
      .select(col("g"), col("freq"),
        explode(when(size(col("l")) >= 2,
          sequence(lit(1), size(col("l")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("l"))
      .select(col("g"), col("freq"), element_at(col("l"), col("i")).as("a"),
        element_at(col("l"), col("i") + 1).as("b"))
      .groupBy("g", "a", "b").agg(sum("freq").as("cnt"))
      .withColumn("rn", row_number().over(Window.partitionBy("g")
        .orderBy(col("cnt").desc, col("a"), col("b"))))
      .filter(col("rn") === 1).drop("rn")
    def applyMerge(syms: DataFrame, win: DataFrame): DataFrame = syms
      .join(broadcast(win.select("g", "a", "b")), Seq("g"), "left")
      .withColumn("l", expr(BpeMergeFold))
      .select("g", "freq", "l")
    val (syms, winners) = (1 to rounds).foldLeft((wf, Seq.empty[DataFrame])) {
      case ((s0, acc), r) =>
        val win = winnersOf(s0).staged
        // per-round vocabulary cut, same rationale as the global
        // learner (bpeLearnRounds): each merge fold runs once instead
        // of once per later round
        (applyMerge(s0, win).staged, acc :+ win.select(col("g"),
          lit(r).as("round"), col("a").as("left_sym"), col("b").as("right_sym"),
          concat(col("a"), col("b")).as("merged"), col("cnt")))
    }
    (winners.reduce(_ union _), syms)
  }


  /** Per-language tokenizer fertility audit — the vocabulary-allocation
    * metric the multilingual-tokenizer papers (mT5, XLM-R, NLLB) report
    * before fixing a vocab: symbols emitted per word OCCURRENCE by
    * language under (a) the corpus-wide tokenizer p62 learns — where
    * languages compete for the merge budget, so dominant languages
    * tokenize shorter — and (b) each language's OWN tokenizer (p64's
    * per-key learner), the fertility floor at the same merge budget.
    * The gap per language is the parity cost of sharing one vocabulary,
    * the number that decides vocab-size allocation. Every sum is an
    * exact integer (freq × symbol counts over the vocab-bounded word
    * tables — occurrences never re-tokenize, their vocab word does);
    * fertility itself is one IEEE division + round at output. Cost: the
    * two learners' corpus-sized token explode (shared shape), then
    * everything vocab-bounded; the final join is |languages| rows. */
  private[queries] def p95TokenizerFertility: Q = (s, d) => {
    val wl = Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
      .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
      .staged // read twice: the global-side join and the own-side learner
    // the corpus-wide word table is the lang-keyed one summed over
    // langs — same tokens() and regex filter, integer counts, so the
    // (w, freq) set is identical to corpusWordFreq's and the learned
    // merges bit-identical (oracle-checked); deriving it from the
    // staged wl deletes p95's second corpus-sized explode+shuffle
    // (r18, guide §2.3 aggregate before shuffle)
    //
    // The two learners' round chains are INDEPENDENT job sequences off
    // the shared wl cut (global vocab vs lang-keyed vocab), but each
    // round's staged cut materializes synchronously at construct time
    // (localCheckpoint executes the upstream AQE stages), so building
    // one learner after the other serializes ~11 bounded jobs whose
    // cost is mostly per-stage coordination. Construct the global
    // learner on a second driver thread (guide §2.6, overlap
    // independent jobs): the scheduler back-fills one chain's stage
    // tails with the other's tasks; wl's checkpoint blocks are
    // computed once whichever chain gets there first (block-store
    // locks make the other a reader). The frames are identical either
    // way, and Await rethrows any construct-time failure unchanged.
    val gsymsF = {
      import scala.concurrent.ExecutionContext.Implicits.global
      scala.concurrent.Future(bpeLearnState(
        wl.groupBy("w").agg(sum(col("freq")).as("freq")), BpeRounds)._2)
    }
    val own = bpeLearnStateBy(
        wl.select(col("lang").as("g"), col("w"), col("freq")), BpeRounds)._2
      .groupBy(col("g").as("lang"))
      .agg(sum(col("freq") * size(col("l"))).as("syms_own"))
    val gsyms = scala.concurrent.Await.result(
      gsymsF, scala.concurrent.duration.Duration.Inf)
    val glob = wl
      .join(gsyms.select(col("w"), size(col("l")).as("gs")), "w")
      .groupBy("lang").agg(
        sum(col("freq")).as("n_occurrences"),
        sum(col("freq") * length(col("w"))).as("syms_char"),
        sum(col("freq") * col("gs")).as("syms_global"))
    glob.join(own, "lang")
      .select(col("lang"), col("n_occurrences"), col("syms_char"),
        col("syms_global"), col("syms_own"),
        round(col("syms_global").cast(DoubleType) / col("n_occurrences"), 6)
          .as("fertility_global"),
        round(col("syms_own").cast(DoubleType) / col("n_occurrences"), 6)
          .as("fertility_own"))
  }


  /** Per-language perplexity filter — CCNet's ACTUAL form (Wenzek et
    * al. 2020 train one KenLM per language and bucket per language;
    * p73 is the corpus-global simplification): one bigram LM per lang
    * (lang joins every model/context/vocab key), every held-out doc
    * scored against its OWN language's LM, and head/middle/tail
    * terciles cut within each language's distribution — so a language
    * whose text is globally rarer is not wholesale-condemned to the
    * tail, the exact failure mode the per-language design exists to
    * avoid. Same integer-exact machinery as p73 (qlog2 surprisal,
    * value-histogram cutoffs — the histogram is per-(lang, value), so
    * the cumulative window orders a bounded value table, never docs).
    * Languages absent from the training slice produce no scored docs,
    * by construction: no LM, no score. */
  private[queries] def p106PerplexityByLang: Q = (s, d) =>
    perplexityByLangCensus(Tables.documents(s, d).withColumn("is_test",
      pmod(h60(col("doc_id").cast(StringType)), lit(10)) === 9))


  /** The p106 core over any `(doc_id, lang, text, is_test)` frame —
    * the property suite feeds it a two-language corpus where one
    * language is globally "worse" and proves the per-language cut
    * still heads its most fluent docs. */
  private[queries] def perplexityByLangCensus(docs: DataFrame): DataFrame = {
    val model = bigramPairs(docs.filter(!col("is_test")), Seq("lang"))
      .groupBy("lang", "prev", "cur").agg(count(lit(1)).as("cnt"))
      .staged // read twice: the ctx aggregation and the scoring join
    val ctx = model.groupBy("lang", "prev").agg(sum(col("cnt")).as("ctx"))
    val vsize = docs.filter(!col("is_test"))
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang").agg(countDistinct(col("tok")).as("v"))
    val scored = bigramPairs(docs.filter(col("is_test")), Seq("lang"))
      .join(model, Seq("lang", "prev", "cur"), "left_outer")
      .join(ctx, Seq("lang", "prev"), "left_outer")
      .join(broadcast(vsize), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (qlog2(coalesce(col("ctx"), lit(0L)) + col("v"))
          - qlog2(coalesce(col("cnt"), lit(0L)) + lit(1L))).as("bits_q"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("bits_q")).as("bits_q"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("lang"),
        ldiv(col("bits_q"), col("n_bigrams")).as("bpt_q"))
      .staged // read twice: the cutoff histogram and the final census
    val hist = scored.groupBy("lang", "bpt_q").agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy("lang").orderBy(col("bpt_q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist.withColumn("cum", sum(col("n")).over(wCum))
      .join(hist.groupBy("lang").agg(sum(col("n")).as("n_docs")), "lang")
      .groupBy("lang")
      .agg(min(when(col("cum") * 3 >= col("n_docs"), col("bpt_q"))).as("c1"),
        min(when(col("cum") * 3 >= col("n_docs") * 2, col("bpt_q"))).as("c2"))
    scored.join(cuts, "lang")
      .select(col("lang"), col("bpt_q"),
        when(col("bpt_q") <= col("c1"), lit("head"))
          .when(col("bpt_q") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("bpt_q")).as("min_bpt_q"),
        max(col("bpt_q")).as("max_bpt_q"))
  }
}
