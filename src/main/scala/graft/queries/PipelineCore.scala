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

/** Shared configuration and corpus helpers for the Pipeline modules:
  * MinHash/LSH constants, bucket capping, shingling, quality scoring,
  * and balanced corpus access. Base of the Pipeline trait stack.
  *
  * Implementation module of [[Pipeline]] (mixed into the one public
  * object; members are package-private to graft.queries). Split from
  * the former monolith in round 12 with zero behavior change. */
trait PipelineCore extends QueryModule {


  /** Corpus row counts, cached per (session, dataset dir, table):
    * several operators size their structures from the corpus
    * (corpus-scaled codebooks, fixed-size monitoring samples), and
    * that sizing must be ONE metadata-cheap job per gate run, not one
    * per consumer. Lives in [[graft.Artifacts]]' session-scoped
    * scalar memo so `Artifacts.invalidate` clears sizing and
    * artifacts together. At production scale this is a catalog
    * lookup, not a job at all. */
  private[queries] def cachedRowCount(s: SparkSession, d: String,
      table: String)(count: => Long): Long =
    graft.Artifacts.cachedScalar(s, d, s"rowcount:$table")(count)

  /** max(floor, ceil(n / target)) — the one sizing rule every
    * corpus-scaled structure uses, mirrored in SQL as
    * `greatest(floor, (count(*) + target - 1) // target)`. */
  private[queries] def corpusCells(n: Long, floor: Long,
      target: Long): Long = math.max(floor, (n + target - 1) / target)

  /** Document-corpus row count for dataset `d` (cached). */
  private[graft] def docCount(s: SparkSession, d: String): Long =
    cachedRowCount(s, d, "documents")(Tables.documents(s, d).count())

  /** A monitor op's OUTPUT as a session artifact (r18, guide §5 persist
    * only what's reused): the health reports (p110/p137) and the
    * per-source contamination breakdown (p130) aggregate the same
    * sub-monitor outputs their standalone ops compute — at 100 TB the
    * report should pay bounded joins over already-built monitor tables,
    * not re-derive each monitor from the corpus. With artifact reuse on
    * (the gate/sweep default) the first consumer builds and checkpoints
    * the op's output; every later consumer joins it. Reuse-off (bench,
    * `graft.tools.Profile` runs) is untouched — the op rebuilds per call
    * with no checkpoint cut (hence the reuse check ahead of the
    * registry's own). `disk = true` for per-doc-row outputs (the p112
    * rule: never pin corpus-sized frames in unified memory). */
  private[queries] def opArtifact(name: String, disk: Boolean = false)
      (q: Q): Q = (s, d) =>
    if (s.conf.get("graft.artifacts.reuse", "true") != "true") q(s, d)
    else graft.Artifacts.cached(s, d, name) {
      if (disk) q(s, d).stagedDisk else q(s, d).staged
    }


  // MinHash configuration: 12 hashes in 6 bands of 2 rows. P(candidate) =
  // 1-(1-j^2)^6 — misses a j=0.9 near-dup with p≈5e-5, keeps the j≈0.03
  // background at ≈0.5%, which the exact-Jaccard verify then discards.
  // Hashes are a quadratic family derived from one md5 per shingle
  // (Portable.hashFam), so extra hashes cost only integer arithmetic.
  private[graft] val NumHashes = 12

  private[graft] val BandRows = 2

  private[graft] val NumBands = NumHashes / BandRows

  private[graft] val ShingleW = 3

  private[graft] val JaccardThreshold = 0.5


  /** LSH bucket-size cap: a band bucket larger than this is dropped
    * before pair generation. Hot buckets are the one place banded LSH
    * goes quadratic — an adversarial spam cluster of m near-identical
    * docs otherwise emits m² candidate pairs. Capping bounds any
    * bucket's pair fan-out at Cap² while leaving every honest bucket
    * (orders of magnitude below the cap at any corpus size, because
    * buckets hold near-dup CLUSTERS, not random collisions) untouched.
    * The oracles apply the identical cap, so it is exact, not a fudge. */
  private[queries] val MaxBucket = 1000


  private[graft] def capBuckets(bands: DataFrame): DataFrame = {
    // The hot-bucket list is tiny (empty on honest corpora), so the cap
    // costs one map-side-combinable count plus an anti-join — NOT a
    // window over every band row, which would add a full sort-shuffle
    // per consumer (measured 2x on p02). The anti-join is deliberately
    // UN-hinted: AQE broadcasts the hot list while it is small, and on
    // the pathological corpus where it is not (millions of distinct spam
    // clusters), a hint would force the unbounded list through the
    // driver — the failure the cap exists to prevent.
    val hot = bands.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > MaxBucket)
      .select("band", "bkey")
    bands.join(hot, Seq("band", "bkey"), "left_anti")
  }


  /** Candidate pairs from a (doc_id, band, bkey) table: bucket-capped
    * keyed self-join, each unordered pair once — the single pair
    * generator shared by p02 (6×2-row bands) and p29 (2×1-row bands).
    * `materialize` checkpoints the capped bands so the self-join's two
    * sides read one materialization instead of re-running the upstream
    * band build — A/B-timed per caller (wins for p02's explode+count
    * subtree, loses for p29 whose expensive subtree is already
    * checkpointed). SQL twin: `sqlCappedCand`, appended after a `bands`
    * CTE. */
  private[queries] def candidatePairs(bands: DataFrame,
      materialize: Boolean): DataFrame = {
    val capped0 = capBuckets(bands)
    val capped = if (materialize) capped0.staged else capped0
    capped.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(capped.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }


  private[graft] val Stopwords = Seq("the", "a", "of", "and", "to", "in",
    "is", "on", "for", "with")


  /** Quality-gate scoring columns and thresholds, shared STRUCTURALLY by
    * the batch curation composite (p23) and the streaming quality gate
    * (graft.streaming.Streams.qualityGate) so batch and stream cannot
    * silently diverge. */
  private[graft] val QualityMinStopRatio = 0.05

  private[graft] val QualityMinTokens = 5L


  private[graft] def withQualityScores(df: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    df.withColumn("n_tokens", size(t).cast(LongType))
      .withColumn("stop_ratio",
        size(filter(t, x => x.isin(Stopwords: _*))) / size(t))
  }


  private[graft] def qualityFilter(df: DataFrame): DataFrame =
    df.filter(col("stop_ratio") >= QualityMinStopRatio &&
      col("n_tokens") >= QualityMinTokens)


  /** `documents` rebalanced across the cluster before expensive per-row
    * work. The driver-provided table is one parquet row group, so the
    * scan stage gets ONE task regardless of split size — and every
    * text-pipeline operator multiplies each row into dozens of
    * shingle/token/window rows and hashes them. Shuffling the raw docs
    * first costs bytes-of-input once and buys cores× parallelism on the
    * explode+digest work that dominates; with properly-split input (many
    * files / row groups) the exchange is still just one linear pass.
    * Applied only where A/B timing showed the map side dominates (shingle
    * explodes, per-window hashing, interpreted char-gram HOFs);
    * aggregation-bound ops (exact dedup, corpus profile) skip it — their
    * own groupBy exchange rebalances and the extra shuffle just loses. */
  private[queries] def docsBalanced(s: SparkSession, d: String): DataFrame =
    // hash on the unique doc_id, not round-robin repartition(n): keyless
    // round-robin first pays a LOCAL SORT of every input partition
    // (sortBeforeRepartition, SPARK-23207's retry-determinism guard) —
    // hashing a unique key is deterministic under retries for free and
    // skips the sort. A/B (min of 6 / 4 same-session; PLANS.md,
    // "Decided A/B timers deleted"):
    // minhash sketch 0.268→0.231 s sf0.1, 0.458→0.399 s sf1; shingle+
    // digest 0.171→0.163 / 0.358→0.316 — every sample lower. Width stays
    // explicit so AQE cannot byte-coalesce the compute-bound map stages
    // this spread exists to widen.
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))


  /** Non-distinct w-shingle rows built with codegen'd `element_at` over
    * the exploded position index — measured ~3.5x faster than exploding
    * the interpreted `transform`+`slice` HOF array (`Portable.shingles`),
    * because every expression here stays inside whole-stage codegen.
    * Duplicate shingles within a doc are emitted; consumers must be
    * multiset-safe (min / collect_set are). */
  private[queries] def shingleRows(s: SparkSession, d: String, w: Int): DataFrame =
    shingleRowsOf(docsBalanced(s, d), w)


  /** The same shingle build over ANY (doc_id, text) DataFrame — shared
    * with the streaming decontamination gate, which feeds a document
    * STREAM through it (every expression here is stateless, so the
    * transform is streaming-legal as-is). */
  private[graft] def shingleRowsOf(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(when(size(col("t")) >= w,
          sequence(lit(1), size(col("t")) - (w - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until w).map(k => element_at(col("t"), col("i") + k)): _*)
        .as("shingle"))


  /** Supervised curation classifier — multinomial naive Bayes with
    * Laplace smoothing, TRAINED on a deterministic 90% hash slice and
    * APPLIED to the held-out 10%, reported as a language confusion
    * census. The trained-model family the heuristic quality scores
    * (p06/p31/p45) and the fixed-profile language ID (p22) don't cover:
    * the model is LEARNED from labeled data, the way production curation
    * classifiers (fastText/CCNet-style) are.
    *
    * Exactness across engines refines p51's quantized-log trick to 16
    * fractional bits: [[qlog2]] is the piecewise-LINEAR log2
    * (bitlen−1)·2^16 + (x·2^16 div 2^(bitlen−1)) − 2^16 — monotone,
    * pure integer arithmetic (the divisor is a power of two, so even the
    * double-typed division path is IEEE-exact: the quotient has ≤ 17
    * significant bits), and fine enough that the classifier actually
    * classifies (the 1-bit bitlen form predicts one class for
    * everything). Every score is an exact integer sum —
    * score(d, c) = qlog2(docs_c) + Σ_t qlog2(cnt_{c,t}+1)
    * − n_d·qlog2(tot_c + V) — and argmax (score DESC, lang ASC tiebreak,
    * planned through the native top-k operator via the rn=1 rewrite) is
    * engine-independent.
    *
    * Scale shape: training is ONE (lang, token)-keyed count shuffle (the
    * model table — vocab×|classes| rows, a TABLE at 100 TB, not a
    * broadcast); class totals/priors/vocab-size reduce to ≤|classes|-row
    * broadcasts; scoring explodes held-out tokens ×|classes| map-side
    * (|classes| = 5) and pays ONE keyed join against the model, then
    * per-(doc, class) and per-doc aggregations. Nothing corpus-sized is
    * ever windowed globally or collected. */
  /** Piecewise-linear log2 with 16 fractional bits over a positive
    * integer column — exact, monotone, engine-portable (see
    * p71NbClassifier). qlog2(1)=0, qlog2(2)=65536, qlog2(3)=98304. */
  private[queries] def qlog2(x: Column): Column = {
    val m = length(bin(x)).cast(LongType)
    val p = pow(lit(2.0), (m - lit(1L)).cast(DoubleType))
    val a = x * lit(65536L)
    val q = ((a - pmod(a, p.cast(LongType))).cast(DoubleType) / p)
      .cast(LongType)
    (m - lit(1L)) * lit(65536L) + q - lit(65536L)
  }


  /** Exact long floor-division for non-negative operands — the pmod
    * trick qlog2 uses, factored out: a − (a mod b) is exactly divisible,
    * both sides are below 2^53 everywhere this is called, so the double
    * division is IEEE-exact and the cast back is lossless. DuckDB twin:
    * the `//` operator. */
  private[queries] def ldiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast(DoubleType) / b.cast(DoubleType)).cast(LongType)
}
