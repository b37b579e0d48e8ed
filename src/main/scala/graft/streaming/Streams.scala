package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.Exact._

/** Structured Streaming surface over the `events` stream: the streaming
  * twins of the batch event analytics in graft.queries.Pipeline
  * (p09–p11). The reference engine is batch-only (SURVEY.md §2.7) — this
  * is beyond-parity scope, built the way a 100 TB/day event pipeline
  * would run continuously:
  *
  *  - event-time processing with watermarks, so late data is bounded and
  *    state is evictable (no unbounded accumulation on executors);
  *  - windowed/session aggregation via the built-in incremental operators
  *    (`window`, `session_window`) — keyed state lives in the state store,
  *    partitioned by group key, exactly like a shuffle;
  *  - custom per-key state via `mapGroupsWithState` with a processing-time
  *    timeout for eviction.
  *
  * Every transform is DataFrame→DataFrame so the same code runs on
  * `spark.readStream` sources in production and on MemoryStream in tests.
  */
object Streams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class UserTotal(user_id: Long, n_events: Long, sum_value: Double)

  /** File-based stream of the events table layout (the deploy-time
    * `readStream` entry; tests use MemoryStream instead). A stream needs
    * its schema up front, and the driver has shipped `events.ts` under
    * multiple physical encodings across rounds (nanos-long and
    * timestamp[us] NTZ so far) — so the schema comes from a batch footer
    * read of the files already in the directory, and the ts column goes
    * through the same type-adaptive normalization as the batch table
    * (graft.Tables.normalizeTs). Batch and stream cannot diverge on an
    * encoding change: both normalize, and both are pinned by
    * EventsContractSpec-style fixtures. Requires at least one file
    * present at start — true of every deploy that tails a table
    * directory. */
  def fileStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .parquet(dir))

  /** Tumbling 1-hour windows per event type — the streaming twin of
    * p10_events_hourly. Watermark bounds state: windows older than
    * 2 hours behind the max event time are finalized and evicted. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessions (>10 min of silence closes a session) — the
    * streaming twin of p11_events_sessions, via the native incremental
    * session_window operator. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Stream-stream join: each click joined to the same user's purchases
    * in the following 10 minutes (the continuous twin of the batch range
    * join p16). Watermarks on BOTH sides plus the time-range condition
    * let Spark bound the join state: rows older than watermark + range
    * are evicted from the state store instead of accumulating forever. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select("click_id", "user_id", "click_ts", "purchase_ts",
        "purchase_value")
  }

  /** Streaming key dedup: keep the first-ARRIVED row per event_id (an
    * at-least-once ingest's duplicate delivery collapses to one row; with
    * out-of-order arrival the survivor is by arrival, not event time).
    * The watermark bounds how long each key's dedup state is retained. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateless text-quality gate on a DOCUMENT stream — the filter half
    * of the batch curation composite (graft.queries.Pipeline.p23) applied
    * to continuously arriving docs. Stateless transforms need no
    * watermark or state store: identical expressions, identical
    * thresholds, per-microbatch map — the unification Structured
    * Streaming promises, demonstrated on the text pipeline rather than
    * events. (Streaming DEDUP needs state and lives in dedupEvents's
    * dropDuplicatesWithinWatermark pattern instead.) */
  def qualityGate(docs: DataFrame): DataFrame = {
    import graft.queries.Pipeline.{qualityFilter, withQualityScores}
    qualityFilter(withQualityScores(docs))
      .select("doc_id", "n_tokens", "stop_ratio")
  }

  /** Stateless context-window chunker on a document stream — the
    * streaming twin of batch p27 (graft.queries.Pipeline.chunkRows, the
    * SAME expressions), turning arriving docs into overlapping
    * fixed-size token chunks per microbatch. An explode is stateless, so
    * no watermark or state store is involved and throughput is pure
    * map-side. */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.queries.Pipeline.chunkRows(docs)

  final case class KeptDoc(content_hash: String, doc_id: Long)

  /** Streaming incremental dedup over a DOCUMENT stream — the continuous
    * twin of batch p36: where p36 anti-joins a new batch against the
    * persisted distinct-hash index, here the state store IS that index.
    * Keyed by portable content hash via flatMapGroupsWithState, each key
    * emits exactly one row ever — the first-seen doc (min doc_id within
    * the microbatch, so a batch-internal duplicate pair also collapses
    * deterministically); later arrivals update nothing downstream. State
    * per key is one long, partitioned by hash across the cluster like
    * any shuffle. (A production deployment of an unbounded hash space
    * would add a state TTL or swap the state store for the persisted
    * index of p36 — the semantics here are the bounded-corpus contract.) */
  def dedupDocStream(docs: DataFrame): Dataset[KeptDoc] = {
    import docs.sparkSession.implicits._
    docs
      .select(sha2(col("text"), 256).as("content_hash"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, KeptDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val minNew = rows.map(_._2).min
          if (state.exists) Iterator.empty
          else {
            state.update(minNew)
            Iterator.single(KeptDoc(hash, minNew))
          }
      }
  }

  /** Stream-static decontamination gate — the continuous twin of batch
    * p38: arriving documents are shingled with the SAME expressions
    * (graft.queries.Pipeline.shingleRowsOf, [[graft.functions.Portable]]
    * hashes) and joined against the STATIC eval-set gram index — the
    * persisted artifact the batch job builds. The whole transform is
    * stateless (explode + hash + inner join against a static side that
    * AQE broadcasts per microbatch), so no watermark or state store is
    * involved. Emits one row per (doc, matching gram) occurrence —
    * within-doc duplicate grams hit more than once; consumers that need
    * per-doc verdicts aggregate downstream. */
  def contaminationHits(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    import graft.functions.Portable.h60
    graft.queries.Pipeline
      .shingleRowsOf(docs, graft.queries.Pipeline.DecontamW)
      .select(col("doc_id"), h60(col("shingle")).as("hv"))
      .join(evalGrams.select("hv"), "hv")
      .select("doc_id", "hv")
  }

  /** Stream-static NEAR-dedup gate — the continuous twin of batch p65:
    * each arriving document is MinHash-sketched entirely WITHIN ITS OWN
    * ROW (shingle array → per-hash `array_min` over the transformed
    * array — no explode-then-aggregate, so the transform is stateless:
    * no watermark, no state store), its band keys are exploded and
    * joined against the STATIC corpus band index — the persisted
    * artifact the batch job builds (capped with the same hot-bucket
    * policy) — then verified by exact Jaccard against the static
    * signature table. Hashes, band keys, and the Jaccard are
    * bit-identical to the batch path's (min() is duplicate-insensitive,
    * so the array-level sketch equals the row-level one). Emits one
    * (new doc, corpus doc, jaccard) row per MATCHING BAND occurrence —
    * like [[contaminationHits]], consumers needing per-doc verdicts
    * dedup/aggregate downstream. */
  def nearDupMatches(docs: DataFrame, bandIndex: DataFrame,
      corpusSig: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.Portable
    import graft.queries.Pipeline.{JaccardThreshold, NumHashes, ShingleW}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val withH = docs
      .select(col("doc_id").as("new_id") +: carry.map(col) :+
        Portable.shingles(Portable.tokens(col("text")), ShingleW).as("shs"): _*)
      // docs shorter than one shingle have no sketch — drop them here
      // like the batch explode does (their all-NULL sigs would otherwise
      // pile onto a single useless (band, "") join key)
      .filter(size(col("shs")) > 0)
      .withColumn("hh", transform(col("shs"), x => {
        val dg = md5(x)
        struct(conv(substring(dg, 1, 15), 16, 10).cast(LongType).as("h1"),
          conv(substring(dg, 16, 10), 16, 10).cast(LongType).as("h2"))
      }))
      .withColumn("sa", array_distinct(transform(col("hh"), h => h.getField("h1"))))
      .withColumn("na", size(col("sa")))
      .withColumn("sig", array((0 until NumHashes).map(i =>
        array_min(transform(col("hh"), h =>
          Portable.hashFamFrom(i, h.getField("h1"), h.getField("h2"))))): _*))
      .select((Seq("new_id") ++ carry ++ Seq("sa", "na", "sig")).map(col): _*)
    val banded = graft.queries.Pipeline
      .bandRowsOf(withH, carry = Seq("new_id", "sa", "na") ++ carry)
    banded
      .join(bandIndex.select(col("band"), col("bkey"),
        col("doc_id").as("old_id")), Seq("band", "bkey"))
      .join(corpusSig.select(col("doc_id").as("old_id"),
        col("shset").as("sb"), col("n").as("nb")), Seq("old_id"))
      .withColumn("ninter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("ninter").cast(DoubleType) /
        (col("na") + col("nb") - col("ninter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(Seq(col("new_id"), col("old_id"), col("jaccard")) ++
        carry.map(col): _*)
  }

  /** Shared static-side build for the two LEXICAL door scanners
    * ([[contaminationMatches]], [[substringContamMatches]]): ONE
    * driver-side materialization of the sorted long-gram index — the
    * stream-static broadcast convention, a one-time bounded build-time
    * step, not a per-batch or per-row driver loop — shipped as a true
    * broadcast through [[graft.functions.BroadcastLongArray]]. The
    * NULL guard is uniform here on purpose: `collect_set` and
    * `collect_list` both return an empty array (not NULL) on zero
    * input rows today, but neither scanner should depend on that Spark
    * behavior staying put, and the previous asymmetry (one guarded,
    * one bare `getSeq`) invited a wrong "fix". The semantic scanner's
    * static side is a float MATRIX ([[graft.functions.SemanticScan]]'s
    * EvalIndex), so it builds separately, under the same convention. */
  private def broadcastSortedIndex(s: SparkSession, src: DataFrame,
      c: String, distinct: Boolean): org.apache.spark.sql.Column = {
    import graft.functions.BroadcastLongArray.broadcastLongArray
    val agg0 = if (distinct) collect_set(col(c)) else collect_list(col(c))
    val row = src.agg(array_sort(agg0)).head()
    broadcastLongArray(s,
      if (row.isNullAt(0)) Array.empty[Long]
      else row.getSeq[Long](0).toArray)
  }

  /** Streaming decontamination — the continuous twin of batch
    * p92_decontaminate: each ARRIVING document is checked for long-n-gram
    * overlap against the STATIC eval-set gram index (built offline from
    * the benchmark suite, broadcast-sized), and contaminated docs are
    * flagged with their overlap counts before they ever enter the
    * training corpus. The eval index ships as a TRUE broadcast
    * variable (sorted once, probed with the native binary search), so
    * the streaming side is a STATELESS per-row membership count —
    * Append-legal with no watermark and no shuffle at all, the same
    * "benchmark set is MBs against the corpus" economics the batch op
    * banks on. The previous crossJoin(broadcast(one-row-set-frame)) +
    * array_intersect shape paid |eval| per row TWICE — the joined row
    * memcpied the whole gram set AND array_intersect rebuilt a hash
    * set of it per document (26.3 s for 100k docs at 1e5 grams; a
    * 1e6-gram pass did not finish in 16 minutes). Now the per-row work
    * is |gs|·log|eval| (before/after table: PLANS.md round 14). */
  def contaminationMatches(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    import graft.functions.Portable
    import graft.functions.SortedContains.sortedContains
    import graft.queries.Pipeline.ContamW
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val eg = broadcastSortedIndex(docs.sparkSession, evalGrams, "g",
      distinct = true)
    docs
      .select(col("doc_id"), array_distinct(transform(
          Portable.shingles(Portable.tokens(col("text")), ContamW),
          x => Portable.h60(x))).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"),
        size(col("gs")).cast(LongType).as("n_grams"),
        // gs is distinct, so counting members == |gs ∩ eval|
        size(filter(col("gs"), g => sortedContains(eg, g)))
          .cast(LongType).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .withColumn("contam_frac",
        round(col("n_contaminated").cast(DoubleType) / col("n_grams"), 6))
  }

  /** Streaming SEMANTIC decontamination — the continuous twin of batch
    * p126_semantic_decontam, guarding the door [[contaminationMatches]]
    * guards for verbatim leaks against the paraphrase class: each
    * ARRIVING embedding is scored by exact cosine against the STATIC
    * eval-set embeddings, flagged with its hit count and best-matching
    * eval doc before the doc enters the corpus. The scan is the native
    * [[graft.functions.SemanticScan]] over a TRUE broadcast of the
    * eval matrix (ids + norms + row-major floats): the previous
    * crossJoin(one-row-struct-array) + `aggregate` HOF paid |eval| per
    * row twice over — the joined row memcpied the matrix AND the
    * lambda interpreted per eval vector (1k rows/s at just 1e4 eval
    * vectors, PLANS.md round 14). Arithmetic is bit-identical (the
    * expression replicates vdot + cos6 + the fold's total order —
    * sim DESC, eval_id ASC — including every NULL case), same
    * τ = 0.40. STATELESS — Append-legal, no watermark, no shuffle.
    * StreamsSpec proves row-identity against batch p126 on the same
    * vectors; the one-time driver materialization of the eval side at
    * query build is the stream-static broadcast convention
    * ([[substringContamMatches]]). */
  def semanticContamMatches(vectors: DataFrame,
      evalVecs: DataFrame): DataFrame = {
    import graft.functions.SemanticScan
    import graft.functions.VectorDot.vdot
    val evalRows = evalVecs
      .select(col("eval_id"), col("evv"),
        sqrt(vdot(col("evv"), col("evv"))).as("enrm"))
      .filter(col("evv").isNotNull && col("enrm").isNotNull)
      .orderBy("eval_id").collect()
    // one index PER DISTINCT eval dimension (normally exactly one):
    // the replaced per-pair fold scored an eval row iff its dim
    // matched the PROBE's, so a mixed-dim eval set must keep every
    // dim group — anchoring on the first row's dim would silently
    // blind the screen to the dominant group. A probe matches at most
    // one group; the merge takes the group with hits.
    val idxs = evalRows.groupBy(_.getSeq[Float](1).length)
      .toSeq.sortBy(_._1)
      .map { case (d, rows) =>
        SemanticScan.EvalIndex(rows.map(_.getLong(0)),
          rows.map(_.getDouble(2)),
          rows.flatMap(_.getSeq[Float](1)), d)
      } match {
        case Seq() => Seq(SemanticScan.EvalIndex(
          Array.empty, Array.empty, Array.empty, 0))
        case is => is
      }
    val withNrm = vectors
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
    val res = idxs
      .map(i => SemanticScan.semanticScan(
        vectors.sparkSession, col("v"), col("nrm"), i, 0.40))
      .reduce((a, b) => when(a.getField("n") > 0, a).otherwise(b))
    withNrm
      .withColumn("res", res)
      .filter(col("res").getField("n") > 0)
      .select(col("vec_id").as("doc_id"),
        col("res").getField("n").as("n_eval_hits"),
        col("res").getField("best_id").as("best_eval_id"),
        col("res").getField("best_sim").as("best_sim"))
  }

  /** Streaming SUBSTRING decontamination — the continuous twin of
    * batch p133_substring_contam, the verbatim-leak screen run at the
    * door: each ARRIVING train doc is measured against the STATIC
    * eval-slice shingle-hash set (benchmark-sized, aggregated into
    * ONE broadcast array row, the [[semanticContamMatches]] shape)
    * for its longest verbatim eval overlap. Everything is ROW-LOCAL:
    * the stride-1 [[graft.queries.Pipeline.SpanW]]-token shingles,
    * their membership probes, and the maximal-run extension — the
    * matched-start positions are ascending by construction, so one
    * `aggregate` fold carrying (prev, cur_run, max_run) computes the
    * longest run without any window or state. STATELESS —
    * Append-legal, no watermark, no shuffle; same h60 arithmetic and
    * the same [[graft.queries.Pipeline.MinSubTokens]] gate as batch,
    * so rows are IDENTICAL (Round13OpsSpec). The membership probe is
    * the native [[graft.functions.SortedContains]] binary search over
    * the ONCE-SORTED eval array — O(log |eval|) per position where
    * `array_contains` scans linearly, which is what lets this scanner
    * face a real eval suite (10⁵–10⁶ grams) instead of only
    * benchmark-sized sets; batch p133 keeps its hash join.
    *
    * The static gram set travels as a TRUE broadcast variable read by
    * [[graft.functions.BroadcastLongArray]], NOT as a
    * crossJoin(broadcast(oneRowArrayFrame)): the joined row owns its
    * bytes, so that shape memcpies the whole array into EVERY document
    * row — ~8 MB per row at a 10⁶-gram suite, measured as the real
    * bottleneck at deployment scale (PLANS.md round 14, item 5; the
    * probe itself was never the problem). The one-time `.head()` that
    * materializes the static side at query BUILD is the same driver
    * materialization every stream-static broadcast join performs — it
    * is not a per-batch or per-row driver loop (and it replaces the
    * old shape's re-aggregation of the eval frame on every
    * micro-batch). */
  def substringContamMatches(docs: DataFrame, evalHv: DataFrame)
      : DataFrame = {
    import graft.functions.Portable.{h60, tokens}
    import graft.functions.SortedContains.sortedContains
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val W = graft.queries.Pipeline.SpanW
    val gate = graft.queries.Pipeline.MinSubTokens
    val es = broadcastSortedIndex(docs.sparkSession, evalHv, "hv",
      distinct = false)
    // the fold ALSO counts its elements (cnt), so `hits` — the
    // expensive h60-probe filter — is referenced exactly once. A
    // separate size(hits) measured NEUTRAL in round 14 (Spark's
    // runtime subexpression elimination already dedupes the collapsed
    // projection's twin reference); the single reference is kept so
    // the scan's cost never silently doubles if that optimization
    // stops covering this shape.
    val zero = struct(lit(-2).as("prev"), lit(0).as("cur"),
      lit(0).as("mx"), lit(0).as("cnt"))
    docs
      .withColumn("t", tokens(col("text")))
      .withColumn("n", size(col("t")))
      .withColumn("hits", when(col("n") >= W,
        filter(sequence(lit(1), col("n") - (W - 1)),
          j => sortedContains(es,
            h60(concat_ws(" ", slice(col("t"), j, lit(W)))))))
        .otherwise(array().cast("array<int>")))
      .withColumn("r", aggregate(col("hits"), zero, (acc, j) => {
        val cur = when(j === acc.getField("prev") + 1,
          acc.getField("cur") + 1).otherwise(lit(1))
        struct(j.as("prev"), cur.as("cur"),
          greatest(acc.getField("mx"), cur).as("mx"),
          (acc.getField("cnt") + 1).as("cnt"))
      }))
      .select(col("doc_id").cast("long").as("doc_id"),
        when(col("n") >= W, col("n") - (W - 1)).otherwise(0)
          .cast(LongType).as("n_starts"),
        col("r").getField("cnt").cast(LongType).as("n_matched_starts"),
        when(col("r").getField("mx") > 0,
          col("r").getField("mx") + (W - 1)).otherwise(0)
          .cast(LongType).as("max_overlap_tokens"),
        when(col("r").getField("mx") + (W - 1) >= gate
            && col("r").getField("mx") > 0, 1).otherwise(0)
          .cast(IntegerType).as("verbatim_leak"))
  }

  /** Streaming table profiler — the continuous twin of batch
    * p89_table_profile: per-column row/null counts and an HLL
    * distinct-count estimate over an ARRIVING document feed, the
    * data-quality monitor an ingestion pipeline keeps running between
    * full profiles. Same digest discipline as the batch op: the
    * unpivoted value reduces to a portable 60-bit hash before any
    * state, so per-column streaming state is (two counters + a 256-byte
    * mergeable HLL register buffer — the [[graft.functions.HllAgg]]
    * TypedImperativeAggregate doing double duty as a streaming state
    * aggregate), bounded regardless of feed volume. Update output mode;
    * |columns| result rows re-emitted as they refine. */
  def runningProfile(docs: DataFrame): DataFrame = {
    import graft.functions.Portable
    val cols = docs.columns.toSeq
    docs
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"),
          col(c).cast("string").as("v"))): _*)).as("e"))
      .select(col("e.column_name").as("column_name"),
        Portable.h60(col("e.v")).as("dg"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("dg").isNull, lit(1))).as("n_nulls"),
        graft.functions.HllAgg.hllAgg(col("dg")).as("n_distinct_est"))
  }

  /** Streaming BPE tokenization — the serving path of the p62/p66
    * tokenizer: arriving documents are tokenized with the STATICALLY
    * learned merge tables (one ≤1-row frame per round, in rank order —
    * the artifacts `Pipeline.bpeLearnRounds` builds offline). Each
    * word explodes to its character symbols and the rounds apply as the
    * SAME left-join + fold the batch learner uses — stateless end to
    * end (explode + K broadcast joins, no watermark or state), so the
    * tokenization is bit-identical to applying the batch vocabulary.
    * Emits one row per (doc, word) occurrence with before/after symbol
    * counts and the joined token string; per-doc totals aggregate
    * downstream (the [[contaminationHits]] convention). */
  def bpeTokenizeStream(docs: DataFrame, merges: Seq[DataFrame]): DataFrame = {
    import graft.functions.Portable
    val words = docs
      .select(col("doc_id"), explode(Portable.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]{2,}$"))
      .withColumn("l", split(col("w"), ""))
    merges.foldLeft(words)(
        graft.queries.Pipeline.bpeApplyMerge(_, _, Seq("doc_id", "w", "l")))
      .select(col("doc_id"), col("w"),
        length(col("w")).as("syms_before"),
        size(col("l")).as("syms_after"),
        concat_ws(" ", col("l")).as("tokens"))
  }

  final case class TopKRow(event_type: String, rnk: Int, event_id: Long,
      value: Double)

  /** Streaming per-key top-k — the continuous twin of the native batch
    * operator (graft.plans.TopKPerKey, gated as q53): the state store
    * holds exactly what TopKPerKeyPartial's bounded heap holds — the
    * best k (value DESC, event_id ASC tiebreak for a total order) rows
    * per key — and each microbatch folds its rows into that heap one at
    * a time, so per-key memory is k entries regardless of batch size or
    * stream length. A key re-emits its ranked top-k ONLY when a batch
    * actually changes it; an unchanged key adds zero output rows, which
    * is what makes the operator usable as a continuously-maintained
    * leaderboard materialization. */
  def topEventsPerType(events: Dataset[Event], k: Int = 3)
      : Dataset[TopKRow] = {
    import events.sparkSession.implicits._
    // best-first total order: value desc, then event_id asc
    val better: ((Double, Long), (Double, Long)) => Boolean = (a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[List[(Double, Long)], TopKRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[Event],
            state: GroupState[List[(Double, Long)]]) =>
          val prev = state.getOption.getOrElse(Nil)
          // fold each arrival into the k-bounded list (k is small; the
          // insert is one linear pass, nothing beyond k entries is kept)
          val next = batch.foldLeft(prev) { (top, e) =>
            val entry = (e.value, e.event_id)
            // at-least-once sources can redeliver an event; an entry
            // already on the ≤k-element list must not occupy a second
            // slot (it would evict a genuine distinct top-k member)
            if (top.contains(entry)) top
            else {
              val (above, below) = top.span(better(_, entry))
              (above ::: entry :: below).take(k)
            }
          }
          if (next == prev) Iterator.empty
          else {
            state.update(next)
            next.iterator.zipWithIndex.map { case ((v, id), i) =>
              TopKRow(tpe, i + 1, id, v)
            }
          }
      }
  }

  final case class ReservoirRow(rnk: Int, doc_id: Long, w: Long,
      priority: Double)

  /** Continuous weighted reservoir — the streaming form of
    * p97_weighted_sample, and the form Efraimidis–Spirakis priority
    * sampling was DEFINED in: one pass, keep the k smallest priority
    * keys, weights need not be known in advance. Arriving docs are
    * scored STATELESSLY with p97's own expressions
    * (graft.queries.Pipeline.wsamplePriority — the deterministic
    * portable-hash coin, so at-least-once redelivery re-derives the
    * identical key and is absorbed by the duplicate check rather than
    * re-rolling the dice), and the reservoir is one k-bounded
    * best-first list in keyed state, re-emitted only when an arrival
    * displaces a member. State is k rows FOREVER — nothing grows with
    * stream length; the per-row state update is O(k) against the
    * stateless, fully parallel scoring. A production deployment puts a
    * `priority < state-kth` pre-filter in front once the reservoir
    * warms, so the single state key sees a vanishing fraction of
    * arrivals — the same funnel TakeOrderedAndProject gives the batch
    * op via per-partition heaps. */
  def weightedReservoir(docs: DataFrame, k: Int = 8)
      : Dataset[ReservoirRow] = {
    import docs.sparkSession.implicits._
    val scored = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.queries.Pipeline.wsampleWeight(col("text")).as("w"))
      .withColumn("priority",
        graft.queries.Pipeline.wsamplePriority(col("doc_id"), col("w")))
      .as[(Long, Long, Double)]
    // best-first total order: priority asc, then doc_id asc
    val better: ((Double, Long, Long), (Double, Long, Long)) => Boolean =
      (a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    scored.groupByKey(_ => 0)
      .flatMapGroupsWithState[List[(Double, Long, Long)], ReservoirRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (_: Int, batch: Iterator[(Long, Long, Double)],
            state: GroupState[List[(Double, Long, Long)]]) =>
          val prev = state.getOption.getOrElse(Nil)
          val next = batch.foldLeft(prev) { (top, r) =>
            val entry = (r._3, r._1, r._2)
            if (top.exists(_._2 == entry._2)) top
            else {
              val (above, below) = top.span(better(_, entry))
              (above ::: entry :: below).take(k)
            }
          }
          if (next == prev) Iterator.empty
          else {
            state.update(next)
            next.iterator.zipWithIndex.map { case ((p, id, w), i) =>
              ReservoirRow(i + 1, id, w, p)
            }
          }
      }
  }

  final case class AnnMatch(probe_id: Long, rnk: Int, vec_id: Long,
      qsim: Long)

  /** Streaming ANN probe scoring against the STATIC quantized index —
    * the continuous twin of p42's scan phase (graft.queries.Pipeline
    * .quantizedVectors / p42_ann_quantized) composed with the bounded
    * per-key heap state of the native top-k (q53 / topEventsPerType):
    *
    *  - arriving probe vectors are quantized with the INDEX's own
    *    per-dimension min/max (one broadcast row, so stream and index
    *    codes live on the same integer grid);
    *  - each microbatch scores probes against the quantized corpus with
    *    the same codegen'd integer dot product (`vector_dot_long`) the
    *    batch scan uses — candidates carry only ids + the integer
    *    score, preserving the 4× bandwidth story;
    *  - each probe's best-k matches live in the state store as a
    *    k-bounded list (value desc, vec_id asc total order, duplicate
    *    (vec_id) arrivals ignored), re-emitted ONLY when a batch
    *    changes them — the leaderboard contract of topEventsPerType.
    *
    * The per-batch scan is the brute quantized pass (right for a
    * broadcast-sized index; the IVF cell assignment of p20 is the
    * composition point when the index outgrows a broadcast). State is
    * k rows per probe, so a long-running stream holds probes × k ids —
    * nothing scales with corpus size or stream length. */
  def annProbeMatches(probes: DataFrame, index: DataFrame, k: Int = 3)
      : Dataset[AnnMatch] = {
    import probes.sparkSession.implicits._
    import graft.functions.VectorDotLong.vdotl
    val stats = index.select("mns", "mxs").limit(1)
    // both clamps: the index side never needs the lower one (its own
    // values defined mn/mx) but a streamed probe is arbitrary — a
    // dimension below mn must pin to -128, not fall off the int8 grid
    def quant(x: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(mx === mn, lit(0L)).otherwise(
        greatest(lit(-128L), least(lit(127L),
          floor((x.cast("double") - mn) * lit(255.0) / (mx - mn)) - lit(128L))))
    val scored = probes
      .crossJoin(broadcast(stats))
      .withColumn("qpv", transform(col("v"), (x, i) =>
        quant(x, element_at(col("mns"), i + 1),
          element_at(col("mxs"), i + 1))))
      .crossJoin(broadcast(index.select(col("vec_id"), col("qv"))))
      .select(col("probe_id"), col("vec_id"),
        vdotl(col("qpv"), col("qv")).as("qsim"))
      .as[(Long, Long, Long)]
    // same fold as topEventsPerType: k-bounded list per probe, total
    // order (qsim desc, vec_id asc), duplicates skipped, emit on change
    val better: ((Long, Long), (Long, Long)) => Boolean = (a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    scored
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long)], AnnMatch](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (probe: Long, batch: Iterator[(Long, Long, Long)],
            state: GroupState[List[(Long, Long)]]) =>
          val prev = state.getOption.getOrElse(Nil)
          val next = batch.foldLeft(prev) { (top, r) =>
            val entry = (r._3, r._2) // (qsim, vec_id)
            if (top.exists(_._2 == entry._2)) top
            else {
              val (above, below) = top.span(better(_, entry))
              (above ::: entry :: below).take(k)
            }
          }
          if (next == prev) Iterator.empty
          else {
            state.update(next)
            next.iterator.zipWithIndex.map { case ((sim, id), i) =>
              AnnMatch(probe, i + 1, id, sim)
            }
          }
      }
  }

  /** Recommended redelivery horizon for [[hybridRetrieve]]'s per-probe
    * memo on unbounded-probe deployments (pass as `probeTtlMs`; the
    * parameter defaults to 0 = no expiry — see the scaladoc's trigger
    * caveat): a probe idle this long has its state expired. 30 min
    * sits far above any real at-least-once redelivery gap while
    * keeping state proportional to the active-probe working set. */
  val HybridProbeTtlMs: Long = 30L * 60 * 1000

  final case class FusedHit(probe_id: Long, rnk: Int, doc_id: Long,
      rrf_q: Long, bm25_rnk: Int, ann_rnk: Int)

  /** Streaming hybrid retrieval — the QUERY side of batch p127's RRF
    * fusion, which is how a retrieval stack actually runs: the corpus
    * indexes are built offline (the [[graft.queries.Pipeline
    * .bm25Postings]] term-at-a-time BM25 index and the embedding table)
    * and a stream of probes — each carrying its text and its embedding,
    * the RAG query shape — retrieves from both and fuses per arrival.
    *
    *  - BM25 branch: the probe's distinct term bigrams are extracted
    *    ROW-LOCALLY (array_distinct over an in-row bigram array — a
    *    streaming .distinct() would be a cross-batch stateful
    *    Deduplicate that grows forever and starves a redelivered
    *    probe's lexical branch) and join the static postings; each
    *    posting carries its COMPLETE precomputed integer score term,
    *    so the stream side only sums — bit-identical to the batch
    *    arithmetic by construction.
    *  - ANN branch: exact cosine (vdot + round 6, p04's recipe) against
    *    the broadcast corpus embeddings — right while the corpus fits a
    *    broadcast. Beyond a broadcast, pass `ivfCentroids` (the
    *    (cent_id, cv) codebook) with a cell-assigned `corpusVecs`
    *    (vec_id, v, cell — the batch ivfAssigned index): the probe
    *    argmax-assigns itself to a cell against the broadcast codebook
    *    and joins only that cell's members, so per-probe work is
    *    |corpus|/|cells| and the served fusion is exactly p129's
    *    IVF-fused list (the audit that prices this trade), proven row
    *    for row by Round12OpsSpec.
    *  - Fusion: both branches' rows meet in per-probe keyed state; the
    *    fold first DISTINCTS its rows (bm rows carry their token, so a
    *    probe delivered twice inside one micro-batch collapses to one
    *    copy instead of doubling sums and interleaving ranks), ranks
    *    each list ((score DESC, doc ASC) with Spark's double ordering —
    *    −0.0 ties 0.0, NaN greatest — so driver-side ranking cannot
    *    diverge from the batch window), fuses at
    *    [[graft.queries.Pipeline.RrfScale]]/(60+rank) exact int64
    *    terms, and re-emits a probe's top-k ONLY on change, so
    *    at-least-once redelivery across batches is absorbed (identical
    *    recompute → no emission). State is ≤ k rows per probe; with
    *    the DEFAULT probeTtlMs = 0 it is held forever, so total state
    *    grows with the stream's lifetime DISTINCT-probe count — fine
    *    for a bounded probe set, wrong for a production query stream
    *    whose probe ids are unique per request. There, pass a
    *    positive `probeTtlMs` ([[HybridProbeTtlMs]] is the house
    *    value): a probe idle past it is EXPIRED (processing-time
    *    timeout), bounding state by the active-probe working set; a
    *    post-TTL redelivery re-emits its (identical) top-k instead of
    *    being absorbed — standard at-least-once output. The TTL is
    *    opt-in rather than the default because a processing-time
    *    timeout makes every micro-batch "require another batch"
    *    (timeouts only fire inside batches), so under the default
    *    as-fast-as-possible trigger the query busy-loops empty
    *    batches; TTL deployments set a real trigger interval
    *    (HybridTtlSpec measured the busy loop before this was made
    *    opt-in — the suite's own MemoryStream harness hung on it).
    *
    * Round12OpsSpec streams the batch op's own ten probes through this
    * (including a redelivery) and asserts the fused rows are identical
    * to p127's output; HybridTtlSpec pins expiry + re-emission. */
  def hybridRetrieve(probes: DataFrame, postings: DataFrame,
      corpusVecs: DataFrame,
      k: Int = graft.queries.Pipeline.Bm25TopK,
      probeTtlMs: Long = 0L,
      ivfCentroids: Option[DataFrame] = None): Dataset[FusedHit] = {
    import probes.sparkSession.implicits._
    import graft.functions.Portable.tokens
    import graft.functions.VectorDot.{cos6, vdot}
    import graft.queries.Pipeline.{RrfK, RrfScale}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // row-local distinct bigrams: tokens t → ["t1 t2", "t2 t3", ...];
    // the size guard keeps sequence() ascending (sequence(1, 0) would
    // COUNT DOWN and fabricate indices)
    val t = tokens(col("text"))
    val bigrams = array_distinct(transform(sequence(lit(1), size(t) - 1),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
    val bmRows = probes
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("probe_id"), explode(bigrams).as("token"))
      .join(postings.withColumnRenamed("doc_id", "cand_id"), "token")
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id").as("doc_id"),
        lit(0).as("sys"), col("term_q").as("q"),
        lit(0.0).cast(DoubleType).as("sim"), col("token"))
    val pv = probes
      .select(col("probe_id"), col("v").as("pv"),
        sqrt(vdot(col("v"), col("v"))).as("pnrm"))
    val candidates = ivfCentroids match {
      case None =>
        // exact branch: brute cosine against the broadcast corpus —
        // right while the corpus fits a broadcast
        val cv = corpusVecs
          .select(col("vec_id"), col("v"),
            sqrt(vdot(col("v"), col("v"))).as("nrm"))
        pv.crossJoin(broadcast(cv))
      case Some(cents) =>
        // IVF-served branch (the scale path p129 priced): corpusVecs
        // is the STATIC cell-assigned index (vec_id, v, cell); the
        // arriving probe assigns itself to a cell with the native
        // [[graft.functions.CentroidArgmax]] over the TRUE-broadcast
        // codebook — bit-identical ordering (csim desc nulls last,
        // cent_id asc, incl. the all-NULL zero-norm edge) to the
        // batch ivfAssigned window — and joins ONLY its own cell's
        // members through an ordinary stream-static keyed join.
        // Per-probe work |corpus|/|cells|; nothing corpus-sized
        // broadcasts to the stream, and the codebook no longer rides
        // every probe row (the old one-row-array crossJoin memcpied
        // K centroid structs per probe and interpreted the argmax
        // lambda per centroid — PLANS.md round 14's copy trap). The
        // one-time driver materialization of the codebook at query
        // build is the stream-static broadcast convention.
        val centRows = cents
          .select(col("cent_id"), col("cv"),
            sqrt(vdot(col("cv"), col("cv"))).as("cnrm"))
          .orderBy("cent_id").collect()
        // a RAGGED codebook: each row keeps its own dim (the replaced
        // fold's per-centroid vdot rule), so a NULL, wrong-dimension,
        // or null-element centroid LOSES to any real csim instead of
        // failing the query at build — batch ivfAssigned accepts the
        // same degraded codebook (NativeScanSpec pins the edges)
        val idx = graft.functions.CentroidArgmax.codebook(
          centRows.toSeq.map { r =>
            (r.getLong(0),
              if (r.isNullAt(1)) None
              else Some(r.getSeq[java.lang.Float](1)),
              if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
          })
        val probeCell = pv
          .withColumn("cell", graft.functions.CentroidArgmax
            .centroidArgmax(probes.sparkSession, col("pv"),
              col("pnrm"), idx))
          .select(col("probe_id"), col("pv"), col("pnrm"), col("cell"))
        probeCell
          .join(corpusVecs.select(col("vec_id"), col("v"),
            sqrt(vdot(col("v"), col("v"))).as("nrm"), col("cell")),
            Seq("cell"))
          .drop("cell")
    }
    val annRows = candidates
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
        lit(1).as("sys"), lit(0L).cast(LongType).as("q"),
        // cos6 yields NULL for a zero-norm side; the typed Dataset
        // bridge would silently decode NULL as 0.0 (the nullable-
        // bridge trap), ranking a zero-norm doc ABOVE negative sims —
        // so NULL is carried as a NaN SENTINEL and ranked LAST below,
        // matching the batch window's (sim DESC NULLS LAST) exactly
        coalesce(cos6(vdot(col("pv"), col("v")),
          col("pnrm") * col("nrm")), lit(Double.NaN))
          .as("sim"), lit("").as("token"))
    // Spark's double ordering for the rank sorts: −0.0 == 0.0; NaN is
    // the NULL sentinel (a real NaN cannot reach here BY CONTRACT:
    // cos6 maps zero-norm AND NaN-poisoned inputs to NULL, never NaN
    // out — so the sentinel is unambiguous) and NULL sims rank LAST
    // under the batch window's DESC NULLS LAST
    def sortKey(s: Double): Double =
      if (s.isNaN) -2.0 // sims are cosines ≥ −1, so −2.0 ranks NULL last
      else if (s == 0.0) 0.0
      else s
    def rankOf[A](scored: Seq[(Long, A)])(implicit ord: Ordering[A])
        : Map[Long, Int] =
      scored.sortBy { case (id, s2) => (s2, id) }(
          Ordering.Tuple2(ord, implicitly[Ordering[Long]]))
        .take(k).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1) }.toMap
    bmRows.unionByName(annRows)
      .as[(Long, Long, Int, Long, Double, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Int, Long, Long, Int, Int)], FusedHit](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        if (probeTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout) {
        (probe: Long, batch: Iterator[(Long, Long, Int, Long, Double, String)],
            state: GroupState[List[(Int, Long, Long, Int, Int)]]) =>
          if (state.hasTimedOut) {
            // probe idle past the redelivery horizon: drop its ≤ k-row
            // memo. Without this, state grows with the number of
            // DISTINCT probes over the stream's lifetime — per-probe
            // bounded but unbounded for a production query stream
            // where probe ids are effectively unique per request. The
            // trade: a redelivery arriving AFTER the horizon re-emits
            // the (identical) top-k instead of being absorbed —
            // at-least-once output, the same contract every
            // Update-mode sink already handles.
            state.remove()
            Iterator.empty
          } else {
          // full-tuple distinct (bm rows keep their token precisely so
          // two same-score tokens for one doc do NOT collapse, while a
          // same-batch probe redelivery does)
          val rows = batch.toSeq.distinct
          // (score DESC, doc ASC) on both lists — the batch tie rule,
          // expressed as ascending (negated score, doc)
          val bmRank = rankOf(
            rows.filter(_._3 == 0).groupBy(_._2).toSeq
              .map { case (doc2, rs) => doc2 -> -rs.map(_._4).sum })
          val annRank = rankOf(
            rows.filter(_._3 == 1).map(r => r._2 -> -sortKey(r._5)))
          def term(r2: Int): Long =
            if (r2 > 0) RrfScale / (RrfK + r2) else 0L
          val next = (bmRank.keySet ++ annRank.keySet).toSeq
            .map { doc2 =>
              val (b, a) = (bmRank.getOrElse(doc2, 0),
                annRank.getOrElse(doc2, 0))
              (doc2, term(b) + term(a), b, a)
            }
            .sortBy { case (doc2, q2, _, _) => (-q2, doc2) }
            .take(k).zipWithIndex
            .map { case ((doc2, q2, b, a), i) => (i + 1, doc2, q2, b, a) }
            .toList
          val prev = state.getOption.getOrElse(Nil)
          if (next == prev || next.isEmpty) {
            // redelivery absorbed — refresh the horizon so the memo
            // keeps absorbing for another TTL
            if (probeTtlMs > 0 && state.exists)
              state.setTimeoutDuration(probeTtlMs)
            Iterator.empty
          } else {
            state.update(next)
            if (probeTtlMs > 0) state.setTimeoutDuration(probeTtlMs)
            next.iterator.map { case (r2, doc2, q2, b, a) =>
              FusedHit(probe, r2, doc2, q2, b, a)
            }
          }
          }
      }
  }

  final case class MirrorCount(source_a: String, source_b: String,
      n_matches: Long)

  /** Continuous twin of the p101 source-mirror matrix: every arriving
    * doc that near-dup-matches the static corpus (the [[nearDupMatches]]
    * machinery, with the stream-side `source` carried through the
    * sketch) increments its unordered (source, source) cell, one
    * counter per cell in keyed state, re-emitted on change — the live
    * mirror-site alarm over the same ≤ sources² state the batch matrix
    * reports at rest. The old side's source resolves through a
    * stream-static keyed join against the corpus (doc_id, source)
    * projection. */
  def mirrorCounts(docs: DataFrame, bandIndex: DataFrame,
      corpusSig: DataFrame, sources: DataFrame): Dataset[MirrorCount] = {
    import docs.sparkSession.implicits._
    val paired = nearDupMatches(docs, bandIndex, corpusSig,
      carry = Seq("source"))
      .join(sources.select(col("doc_id").as("old_id"),
        col("source").as("old_source")), "old_id")
      .select(least(col("source"), col("old_source")).as("sa"),
        greatest(col("source"), col("old_source")).as("sb"),
        col("new_id"), col("old_id"))
      .as[(String, String, Long, Long)]
    paired.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, MirrorCount](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (key: (String, String), batch: Iterator[(String, String, Long, Long)],
            state: GroupState[Long]) =>
          // a match surfaces once per agreeing LSH band — count each
          // (new, old) doc pair once per delivery (within-batch Set);
          // compose with dedupDocStream upstream for exactly-once ids,
          // the deployment shape every counting sink wants anyway
          val add = batch.map(r => (r._3, r._4)).toSet.size.toLong
          if (add == 0L) Iterator.empty
          else {
            val n = state.getOption.getOrElse(0L) + add
            state.update(n)
            Iterator.single(MirrorCount(key._1, key._2, n))
          }
      }
  }

  final case class CellCount(cell: Long, n: Long)

  /** Continuous twin of the p100 drift monitor's census side: arriving
    * vectors are assigned to the STATIC k-means codebook — the same
    * quantization stats and centroid table the batch family reads
    * (graft.queries.Pipeline.kmeansCentroids) — and each cell's
    * population count lives in keyed state, re-emitted only on change.
    * The assignment is row-local and stateless: the K centroids
    * broadcast-aggregate to ONE array row (contaminationMatches'
    * broadcast-array rule) and the argmin is a fold over that array
    * with the batch tie rule (min d2, then min cell), so a vector lands
    * in exactly the cell the batch assignment would give it. The batch
    * op compares two at-rest snapshots by PSI; this feeds the same
    * per-cell censuses continuously — state is ONE counter per cell
    * (≤ K longs total), nothing scales with stream length. */
  def cellCensus(vectors: DataFrame, index: DataFrame,
      centroids: DataFrame): Dataset[CellCount] = {
    import vectors.sparkSession.implicits._
    import graft.functions.VectorDotLong.vdotl
    val stats = index.select("mns", "mxs").limit(1)
    // same two-sided clamp as annProbeMatches: an arbitrary streamed
    // vector must pin to the int8 grid, not fall off it
    def quant(x: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(mx === mn, lit(0L)).otherwise(
        greatest(lit(-128L), least(lit(127L),
          floor((x.cast("double") - mn) * lit(255.0) / (mx - mn)) - lit(128L))))
    val cents = centroids
      .agg(collect_list(struct(col("cell"), col("cv"))).as("cents"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      vdotl(a, a) - lit(2L) * vdotl(a, b) + vdotl(b, b)
    val assigned = vectors
      .crossJoin(broadcast(stats))
      .withColumn("qpv", transform(col("v"), (x, i) =>
        quant(x, element_at(col("mns"), i + 1),
          element_at(col("mxs"), i + 1))))
      .crossJoin(broadcast(cents))
      .withColumn("best", aggregate(col("cents"),
        struct(lit(Long.MaxValue).as("d2"), lit(Long.MaxValue).as("cell")),
        (acc, c) => {
          val dd = d2(col("qpv"), c.getField("cv"))
          when(dd < acc.getField("d2") ||
            (dd === acc.getField("d2") &&
              c.getField("cell") < acc.getField("cell")),
            struct(dd.as("d2"), c.getField("cell").as("cell")))
            .otherwise(acc)
        }))
      .select(col("best").getField("cell").as("cell")).as[Long]
    assigned.groupByKey(identity)
      .flatMapGroupsWithState[Long, CellCount](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (cell: Long, batch: Iterator[Long], state: GroupState[Long]) =>
          val add = batch.length.toLong
          if (add == 0L) Iterator.empty
          else {
            val n = state.getOption.getOrElse(0L) + add
            state.update(n)
            Iterator.single(CellCount(cell, n))
          }
      }
  }

  final case class HourAnomaly(event_type: String, hour_start_ms: Long,
      c: Long, n_hours: Long, dev2: Long, nvar: Long)

  /** State per event type: open (not yet closed) hour buckets, the
    * integer moments of the closed-hour count distribution, and the max
    * event time seen (the per-key watermark that closes hours and
    * rejects late arrivals). Bounded: |open| ≤ lateness window in hours,
    * plus four longs — nothing scales with stream length or volume. */
  final case class AnomalyState(open: Map[Long, Long], n: Long, s: Long,
      ss: Long, maxMs: Long)

  /** Streaming feed-anomaly detection — the continuous twin of batch
    * p84_hourly_anomaly, with the identical float-free 3σ gate:
    * a closing hour's count c is flagged iff (n·c − s)² > 9(n·ss − s²)
    * over the type's closed-hour moments (n hours, s = Σc, ss = Σc²).
    * One flatMapGroupsWithState keyed by event_type: arrivals bump their
    * hour's open bucket; when the type's max observed event time passes
    * hourEnd + lateness, the hour closes — its count folds into the
    * moments FIRST (matching the batch formula, where the tested cell is
    * part of its own population) and then takes the gate, emitting only
    * flagged hours. Events later than the lateness bound for an
    * already-closed hour are dropped, the same contract a watermark
    * enforces on windowed aggregation. Closing is per-key (a quiet type
    * closes only when its own events advance), which is exactly how
    * per-key moments must behave: another type's clock says nothing
    * about this type's distribution. */
  def hourlyAnomalies(events: Dataset[Event],
      latenessMs: Long = 2 * 3600000L): Dataset[HourAnomaly] = {
    import events.sparkSession.implicits._
    val HourMs = 3600000L
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, HourAnomaly](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[Event],
            state: GroupState[AnomalyState]) =>
          val prev = state.getOption.getOrElse(
            AnomalyState(Map.empty, 0, 0, 0, Long.MinValue))
          var maxMs = prev.maxMs
          val open = batch.foldLeft(prev.open) { (acc, e) =>
            val ms = e.ts.getTime
            maxMs = math.max(maxMs, ms)
            val hour = ms - java.lang.Math.floorMod(ms, HourMs)
            // an hour already closed by a PRIOR batch's clock rejects
            // late arrivals (the watermark contract); anything newer
            // lands in its open bucket
            if (hour + HourMs + latenessMs <= prev.maxMs) acc
            else acc.updated(hour, acc.getOrElse(hour, 0L) + 1L)
          }
          val (closing, stillOpen) = open.partition { case (hour, _) =>
            hour + HourMs + latenessMs <= maxMs
          }
          var (n, s, ss) = (prev.n, prev.s, prev.ss)
          val out = closing.toSeq.sortBy(_._1).flatMap { case (hour, c) =>
            n += 1; s += c; ss += c * c
            val dev = n * c - s
            val nvar = n * ss - s * s
            if (n >= 2 && dev * dev > 9L * nvar)
              Some(HourAnomaly(tpe, hour, c, n, dev * dev, nvar))
            else None
          }
          state.update(AnomalyState(stillOpen, n, s, ss, maxMs))
          out.iterator
      }
  }

  final case class CusumRow(event_type: String, hour_start_ms: Long,
      c: Long, cusum8nb: Long, alarm: Int)

  /** State per event type for [[cusumDrift]]: open hour buckets (same
    * closing discipline as [[hourlyAnomalies]]), the frozen baseline
    * moments once [[CusumBaselineHours]] hours have closed, the
    * running CUSUM, and the per-key watermark. Bounded: |open| ≤
    * lateness window, plus six longs. */
  final case class CusumState(open: Map[Long, Long], nb: Long, sb: Long,
      ssb: Long, run: Long, maxMs: Long)

  /** Closed hours a type's baseline freezes after — THE SAME declared
    * phase-I window as batch p122
    * ([[graft.queries.Pipeline.CusumBaselineHours]]), so batch and
    * streaming are literally the same control chart (CusumTwinSpec
    * proves it row for row on a shared series). */
  val CusumBaselineHours: Long = graft.queries.Pipeline.CusumBaselineHours

  /** Streaming CUSUM drift monitor — the continuous twin of batch
    * p122_cusum_drift and the slow-change sibling of
    * [[hourlyAnomalies]]: per event type, the first
    * [[CusumBaselineHours]] CLOSED hours freeze the baseline moments
    * (nb, sb, ssb — phase I, exactly once, immune to later drift),
    * and every closed hour after that advances the integer-exact
    * recurrence S = max(0, S + 8nb·c − 9sb), emitting the hour's
    * count, scaled CUSUM, and the squared 8σ₀ alarm
    * (S² > 4096(nb·ssb − sb²)). Hour closing is per-key
    * watermark-driven with late arrivals dropped, hourlyAnomalies'
    * contract verbatim; state is bounded by the lateness window.
    * Batch p122 uses the SAME fixed [[CusumBaselineHours]] phase-I
    * window, so the two paths emit identical rows for identical
    * closed-hour series (CusumTwinSpec), and both enforce the same
    * int64 envelope loudly instead of letting S² wrap.
    *
    * Envelope derivation (shared with batch p122): the alarm compares
    * S² against 4096(nb·ssb − sb²), so exactness needs S < √2^63 ≈
    * 3.03e9 — guarded as S < 2e9 AFTER each recurrence update (the
    * only quantity that grows with drift). Per-step arithmetic is
    * exact before that check fires: the prior step left S < 2e9 and
    * the increment |8nb·c − 9sb| ≤ 9·nb·2.5e8 under the c guard, far
    * inside int64. A healthy feed never trips it — S resets toward 0
    * whenever counts sit at baseline (8nb·c < 9sb on average), unlike
    * a cumulative-total guard which grows monotonically forever. */
  def cusumDrift(events: Dataset[Event],
      latenessMs: Long = 2 * 3600000L,
      baselineHours: Long = CusumBaselineHours): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    val HourMs = 3600000L
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[Event],
            state: GroupState[CusumState]) =>
          val prev = state.getOption.getOrElse(
            CusumState(Map.empty, 0, 0, 0, 0, Long.MinValue))
          var maxMs = prev.maxMs
          val open = batch.foldLeft(prev.open) { (acc, e) =>
            val ms = e.ts.getTime
            maxMs = math.max(maxMs, ms)
            val hour = ms - java.lang.Math.floorMod(ms, HourMs)
            if (hour + HourMs + latenessMs <= prev.maxMs) acc
            else acc.updated(hour, acc.getOrElse(hour, 0L) + 1L)
          }
          val (closing, stillOpen) = open.partition { case (hour, _) =>
            hour + HourMs + latenessMs <= maxMs
          }
          var (nb, sb, ssb, run) = (prev.nb, prev.sb, prev.ssb, prev.run)
          val out = closing.toSeq.sortBy(_._1).flatMap { case (hour, c) =>
            // batch p122's int64 envelope, enforced LOUDLY so the S²
            // alarm compare can never wrap negative and silently
            // suppress the alarm under sustained drift. The c guard
            // keeps each step's products exact; the S guard (after
            // the recurrence update below) bounds the one quantity
            // drift actually grows. Guarding S itself — not a
            // cumulative total — means a healthy feed never trips it
            // no matter how long it runs: S resets toward zero while
            // counts sit at baseline rates.
            require(c < 250000000L, s"cusumDrift($tpe): hour count $c " +
              "exceeds the exact-int64 CUSUM envelope; pre-scale the feed")
            if (nb < baselineHours) {
              nb += 1; sb += c; ssb += c * c
              // threshold-side exactness, batch p122's second guard:
              // 4096·(nb·ssb − sb²) must stay under 2^62
              require(nb * ssb < (1L << 50),
                s"cusumDrift($tpe): baseline moments exceed the " +
                  "exact-int64 alarm envelope (nb*ssb >= 2^50)")
              None // phase I: the baseline absorbs the hour silently
            } else {
              run = math.max(0L, run + 8L * nb * c - 9L * sb)
              // S² must stay exact int64: S < 2e9 keeps S² < 4e18 <
              // 2^63 (threshold side is bounded by the nb·ssb guard).
              // The update itself was exact — the prior step left
              // S < 2e9 and |8nb·c − 9sb| ≤ 9·nb·2.5e8 under the c
              // guard — so the first violating S is computed exactly
              // and caught here before any compare could wrap.
              require(run < 2000000000L,
                s"cusumDrift($tpe): CUSUM statistic exceeds the " +
                  "exact-int64 alarm envelope (S >= 2e9); the feed has " +
                  "drifted far past the alarm point — reset or pre-scale")
              val alarm =
                if (run * run > 4096L * (nb * ssb - sb * sb)) 1 else 0
              Some(CusumRow(tpe, hour, c, run, alarm))
            }
          }
          state.update(CusumState(stillOpen, nb, sb, ssb, run, maxMs))
          out.iterator
      }
  }

  final case class LatestRow(user_id: Long, event_type: String,
      event_id: Long, ts_us: Long, value: Double)

  /** Streaming CDC keep-latest view — the continuous twin of batch
    * p85_upsert_latest: each (user_id, event_type) key's state is its
    * single latest row by (event time, event_id), re-emitted only when
    * a batch actually replaces it. One mapGroupsWithState-style fold
    * with flatMap emission (quiet keys emit nothing), state = one small
    * record per live key — the merge-on-read view a changelog-backed
    * table maintains continuously, where the batch operator compacts
    * the same contract at rest. At-least-once redelivery of the current
    * latest row is absorbed (same (ts, id) does not re-emit). */
  def latestPerKey(events: Dataset[Event]): Dataset[LatestRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[LatestRow, LatestRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (key: (Long, String), batch: Iterator[Event],
            state: GroupState[LatestRow]) =>
          val prev = state.getOption
          val next = batch.foldLeft(prev) { (best, e) =>
            // full microseconds, not getTime*1000: getTime truncates to
            // milliseconds, and two same-key updates inside one ms would
            // then resolve by event_id tiebreak here but by true µs order
            // in the batch twin p85 (unix_micros) — the sub-ms fraction
            // lives in getNanos alongside the ms the Timestamp carries
            val us = e.ts.getTime * 1000 + (e.ts.getNanos % 1000000) / 1000
            val cand = LatestRow(e.user_id, e.event_type, e.event_id,
              us, e.value)
            best match {
              case Some(b) if b.ts_us > cand.ts_us ||
                (b.ts_us == cand.ts_us && b.event_id >= cand.event_id) => best
              case _ => Some(cand)
            }
          }
          if (next == prev) Iterator.empty
          else { next.foreach(state.update); next.iterator }
      }
  }

  final case class SkewShardRow(domain: String, shard: Int, n_rows: Long,
      hot_key: String, hot_lb: Long, hot_ub: Long)

  /** Per-(domain, shard) state: a Misra–Gries summary (≤ k counters),
    * the exact number of decrement rounds (the MG error bound: a key's
    * true count lies in [counter, counter + decs]), and the shard's
    * exact row total. Bounded: k counters + two longs, regardless of
    * stream length, key cardinality, or skew. */
  final case class SkewShardState(counts: Map[String, Long], decs: Long,
      n: Long)

  /** Streaming shuffle-skew monitor — the continuous twin of batch
    * p115_skew_audit: per key domain (user_id, event_type), the running
    * hottest key and its count bounds, from bounded state. State is
    * keyed by (domain, portable-hash shard of the KEY), so the key
    * space distributes across the cluster instead of funneling each
    * domain through one reducer — and because sharding is BY KEY the
    * shards hold DISJOINT key sets: the global row count is EXACTLY
    * the sum of shard totals, and the best shard winner (max hot_lb,
    * min key on ties) is the global hot key whenever its lower bound
    * clears every other shard's upper bound — the usual case once a
    * true heavy hitter dominates; when bounds overlap, the per-shard
    * [lb, ub] intervals make the ambiguity VISIBLE to the dashboard
    * instead of hiding it (a single-reducer exact monitor could not
    * scale; this is the honest bounded-state trade). The merge is
    * over |domains| × [[SkewShards]] rows. Within a
    * shard, a Misra–Gries summary (p70's sketch, here maintained
    * incrementally) gives each reported counter the standard bounds
    * [c, c + decs] with decs tracked exactly; emit-on-change per
    * shard, at-least-once redelivery re-emits the same row. */
  def skewMonitor(events: Dataset[Event], k: Int = 64,
      shards: Int = SkewShards): Dataset[SkewShardRow] = {
    import events.sparkSession.implicits._
    events
      .flatMap(e => Seq(
        ("events.user_id", e.user_id.toString),
        ("events.event_type", e.event_type)))
      .groupByKey { case (domain, key) =>
        (domain, (graft.functions.Hash60Impl.h60(
          key.getBytes("UTF-8")) % shards).toInt)
      }
      .flatMapGroupsWithState[SkewShardState, SkewShardRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (dk: (String, Int), batch: Iterator[(String, String)],
            state: GroupState[SkewShardState]) =>
          val prev = state.getOption.getOrElse(
            SkewShardState(Map.empty, 0L, 0L))
          val next = batch.foldLeft(prev) { (st, kv) =>
            mgUpdate(st, kv._2, k)
          }
          val (counts, decs, n) = (next.counts, next.decs, next.n)
          if (n == prev.n) Iterator.empty
          else {
            state.update(SkewShardState(counts, decs, n))
            // a summary can be legitimately EMPTY at batch end (k
            // inserts then a decrement round, repeated) — the shard
            // still owns its n rows, so it must still report: empty
            // hot key, bounds [0, decs] (any key's true count is at
            // most the decrement total)
            if (counts.isEmpty)
              Iterator.single(
                SkewShardRow(dk._1, dk._2, n, "", 0L, decs))
            else {
              val (hk, hc) = counts.minBy { case (kk, c) => (-c, kk) }
              Iterator.single(
                SkewShardRow(dk._1, dk._2, n, hk, hc, hc + decs))
            }
          }
      }
  }

  /** Shard count for [[skewMonitor]] — enough to spread any real key
    * domain across a cluster's state partitions while keeping the
    * merged report tiny (|domains| × 64 rows). */
  val SkewShards = 64

  /** One Misra–Gries arrival, extracted pure so SkewMonitorPropertySpec
    * can drive it against exact counts: present keys increment; absent
    * keys insert while under the k-counter budget; a full summary takes
    * a decrement round (every counter down one, zeros evicted, the
    * arrival NOT inserted), whose exact tally `decs` gives every
    * reported counter the classic bounds true ∈ [c, c + decs]. */
  private[streaming] def mgUpdate(st: SkewShardState, key: String,
      k: Int): SkewShardState = {
    val n = st.n + 1L
    st.counts.get(key) match {
      case Some(c) =>
        SkewShardState(st.counts.updated(key, c + 1L), st.decs, n)
      case None if st.counts.size < k =>
        SkewShardState(st.counts.updated(key, 1L), st.decs, n)
      case None =>
        SkewShardState(
          st.counts.collect { case (kk, c) if c > 1L => kk -> (c - 1L) },
          st.decs + 1L, n)
    }
  }

  final case class PsiRow(source: String, window_idx: Long, psi: Double,
      level: Int)

  /** Per-source state for [[psiDrift]]: the frozen baseline histogram
    * (phase I), the open window histogram, and their doc counts.
    * Bounded: 2·(PsiMaxBin+1) longs + two counters per source. */
  final case class PsiState(base: Seq[Long], nb: Long, win: Seq[Long],
      nw: Long, widx: Long)

  /** The house qlog2 fixed-point log2 (⌊log2(x)·2^16⌋-style, exact
    * int64 — `graft.queries` Pipeline's `qlog2` SQL expression in
    * Scala), so the streaming PSI is BIT-EQUAL to batch p124 and its
    * DuckDB oracle: m = bit length of x, then
    * (m−1)·65536 + ⌊x·65536 / 2^(m−1)⌋ − 65536. Args here are tiny
    * products (≤ a few thousand), far inside the ×65536 envelope. */
  private[streaming] def qlog2i(x: Long): Long = {
    val m = 64 - java.lang.Long.numberOfLeadingZeros(x)
    (m - 1) * 65536L + (x * 65536L) / (1L << (m - 1)) - 65536L
  }

  /** The PSI fold's pure arithmetic, shared with the spec's driver-side
    * replay and arithmetic-identical to batch p124 / its DuckDB twin:
    * add-½-smoothed population-stability index of the window histogram
    * against the baseline, terms in bin order via [[qlog2i]], summed
    * left-to-right from 0.0 (the engines' shared fold order), rounded
    * to 6 decimals. Every term (p−q)·log2(p/q) is ≥ 0, so PSI ≥ 0. */
  private[streaming] def psiOf(base: Seq[Long], nb: Long,
      win: Seq[Long], nw: Long): Double = {
    val bins = base.length
    val pd = 2 * nw + bins
    val qd = 2 * nb + bins
    val raw = (0 until bins).iterator.map { i =>
      val pn = 2 * win(i) + 1
      val qn = 2 * base(i) + 1
      (pn.toDouble / pd - qn.toDouble / qd) *
        (qlog2i(pn * qd) - qlog2i(qn * pd)).toDouble / 65536.0
    }.foldLeft(0.0)(_ + _)
    // HALF_UP over the shortest-decimal form, NOT math.rint over a
    // ×1e6 FP product: Spark round(x, 6) and DuckDB round both go
    // through BigDecimal.valueOf (HALF_UP on the decimal string), and
    // for psi whose 7th decimal digit is 5 the two conventions differ
    // — rint would break the documented BIT-EQUAL-to-batch-p124
    // contract exactly at such values (and could flip `level` at the
    // 0.1/0.25 band edges). Same convention as HllAgg.
    java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Streaming PSI distribution-drift monitor over a DOCUMENT stream —
    * the third leg of the monitoring trio next to [[hourlyAnomalies]]
    * (3σ count spikes) and [[cusumDrift]] (sustained mean drift): PSI
    * sees the SHAPE of a distribution move even when its volume and
    * mean look healthy. Batch p81 contrasts each source against the
    * rest of a corpus snapshot; this is the other standard PSI
    * contract — each source against its own FROZEN baseline: per
    * source, the first `baselineDocs` arrivals freeze a length
    * histogram (phase I, immune to later drift — the CUSUM rule),
    * then every `windowDocs` arrivals close a window and emit its PSI
    * against the baseline, with the add-½ smoothing p81 uses (no
    * zero-bin infinities). Binning is p81's: min(PsiMaxBin,
    * n_chars div 100). `level` applies the standard PSI bands —
    * 0 stable (<0.1), 1 moderate (0.1–0.25), 2 major (≥0.25).
    * Batch p124 (graft.queries Pipeline `psiBaselineDriftOf`) is the
    * at-rest twin with the SAME declared sizing (PsiBaselineDocs /
    * PsiWindowDocs) and the same qlog2 fixed-point arithmetic, doc_id
    * standing in for arrival order — PsiTwinSpec proves the two emit
    * identical rows for one corpus.
    *
    * Count-based windows make the op deterministic given per-source
    * arrival order; batches fold in doc_id order, so arrival order IS
    * doc_id order whenever each microbatch arrives sorted (and the
    * fold is batch-boundary-invariant regardless). State is two small
    * histograms per source, nothing scales with stream length.
    * PsiDriftSpec replays the fold driver-side row for row. */
  def psiDrift(docs: DataFrame,
      baselineDocs: Long = graft.queries.Pipeline.PsiBaselineDocs,
      windowDocs: Long = graft.queries.Pipeline.PsiWindowDocs)
      : Dataset[PsiRow] = {
    import docs.sparkSession.implicits._
    val bins = graft.queries.Pipeline.PsiMaxBin + 1
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        least(lit(graft.queries.Pipeline.PsiMaxBin.toLong),
          expr("n_chars div 100")).as("bin"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[PsiState, PsiRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[(Long, String, Long)],
            state: GroupState[PsiState]) =>
          var st = state.getOption.getOrElse(
            PsiState(Seq.fill(bins)(0L), 0L, Seq.fill(bins)(0L), 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[PsiRow]
          batch.toSeq.sortBy(_._1).foreach { case (_, _, bin) =>
            val i = bin.toInt
            if (st.nb < baselineDocs)
              st = st.copy(base = st.base.updated(i, st.base(i) + 1),
                nb = st.nb + 1)
            else {
              val win = st.win.updated(i, st.win(i) + 1)
              if (st.nw + 1 < windowDocs) st = st.copy(win = win,
                nw = st.nw + 1)
              else {
                val psi = psiOf(st.base, st.nb, win, windowDocs)
                val level = if (psi >= 0.25) 2
                  else if (psi >= 0.1) 1 else 0
                out += PsiRow(src, st.widx, psi, level)
                st = st.copy(win = Seq.fill(bins)(0L), nw = 0L,
                  widx = st.widx + 1)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Custom keyed state: running per-user totals maintained with
    * mapGroupsWithState. State is one small record per user, partitioned
    * by user_id across the cluster. (A deployment bounding state for a
    * high-churn key space would add `GroupStateTimeout.ProcessingTimeTimeout`
    * + `state.setTimeoutDuration` to evict idle users; left out here so
    * the operator quiesces deterministically under test triggers.) */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((0L, 0.0)) { case ((c, s), e) =>
            (c + 1, s + e.value)
          }
          val sum = prev.sum_value + v
          val next = UserTotal(userId, prev.n_events + n,
            // keep cents exact like the batch dsum contract — the
            // house BigDecimal HALF_UP convention (psiOf's rule), not
            // math.rint: rint rounds half-even over a ×100 FP product,
            // so the two could differ at a true half-tie; cent-exact
            // inputs arguably cannot produce one, but one spelling of
            // "round to N decimals" beats a proven-safe exemption.
            // A NaN/Inf event value must propagate RAW (Spark round()'s
            // pass-through convention): BigDecimal.valueOf(non-finite)
            // throws, which would turn one poisoned event into a
            // stateful-stream crash
            if (java.lang.Double.isFinite(sum))
              java.math.BigDecimal.valueOf(sum)
                .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
            else sum)
          state.update(next)
          next
      }
  }
}
