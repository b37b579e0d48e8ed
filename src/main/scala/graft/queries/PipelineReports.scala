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

/** Cross-family reports: table profile, FK discovery, provenance,
  * source mirror/scorecard, dataset card, health report,
  * decontamination release census.
  *
  * Implementation module of [[Pipeline]] (mixed into the one public
  * object; members are package-private to graft.queries). Split from
  * the former monolith in round 12 with zero behavior change. */
trait PipelineReports extends PipelineAssembly {


  /** The documents table's column list — the ONE list p89's Spark
    * unpivot, its loud schema check, and its generated DuckDB oracle all
    * derive from, so the two sides can never silently desynchronize
    * (round-9 ADVICE: the oracle used to hand-maintain this list). */
  private[graft] val DocumentsColumns =
    Seq("doc_id", "text", "lang", "source", "n_chars")


  /** Table profiler — the ANALYZE/data-profiling op an ingestion
    * pipeline runs on every new source: per column, row count, null
    * count, exact distinct count, lexicographic min/max (values profiled
    * as strings, binary collation on both engines), and the modal value
    * with its count. The count/distinct/mode shuffle is DIGEST-KEYED:
    * the unpivoted rows are reduced to (column_name, 16-byte md5 digest)
    * before the keyed count, so no full value — in particular no multi-KB
    * `text` payload — ever rides an exchange KEY (the round-9 scale nit);
    * the value itself rides that same aggregate as a min(v) PAYLOAD
    * (constant per digest), so the modal value needs NO second corpus
    * scan — it is read back off the staged per-digest frame, with min(v)
    * over the top-count ties resolving exactly like the oracle's
    * ORDER BY cnt DESC, v ASC;
    * min/max come from a no-unpivot per-column global aggregate whose
    * partials are one value per column per task. Digest collisions are
    * the p01 content-hash assumption (128-bit md5, negligible at any
    * corpus size). Output is |columns| rows, whatever the corpus size. */
  private[queries] def p89TableProfile: Q = (s, d) => {
    val df = Tables.documents(s, d)
    val cols = df.columns.toSeq
    require(cols == DocumentsColumns,
      s"documents schema drifted: $cols vs $DocumentsColumns — update " +
        "Pipeline.DocumentsColumns (the p89 oracle regenerates from it)")
    val unpivot = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"),
          col(c).cast(StringType).as("v"))): _*)).as("e"))
      .select(col("e.column_name").as("column_name"), col("e.v").as("v"))
    // ONE corpus scan: the value rides the digest-keyed count as an
    // aggregation PAYLOAD (min(v) — constant per digest, so map-side
    // combine carries one value per (column, digest) per task), never
    // as an exchange key. This replaces the round-11 shape whose modal
    // recovery re-evaluated the unpivot for a second full scan +
    // re-hash of every value: the payload bytes here equal what that
    // join shuffled anyway, and the second scan is gone.
    val grouped = unpivot
      .select(col("column_name"), unhex(md5(col("v"))).as("dg"), col("v"))
      .groupBy("column_name", "dg")
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("v"))
      .stagedDisk // one row per (column, DISTINCT value digest): key columns make this table-sized
    val stats = grouped.groupBy("column_name").agg(
      sum(col("cnt")).as("n_rows"),
      sum(when(col("dg").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
      count(when(col("dg").isNotNull, lit(1))).as("n_distinct"))
    val minmaxRow = df.agg(
      min(col(cols.head).cast(StringType)).as(s"mn_${cols.head}"),
      cols.tail.flatMap(c => Seq(
        min(col(c).cast(StringType)).as(s"mn_$c"),
        max(col(c).cast(StringType)).as(s"mx_$c"))) :+
        max(col(cols.head).cast(StringType)).as(s"mx_${cols.head}"): _*)
    val minmax = minmaxRow.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"),
          col(s"mn_$c").as("min_value"),
          col(s"mx_$c").as("max_value"))): _*)).as("e"))
      .select("e.*")
    val maxc = grouped.filter(col("dg").isNotNull)
      .groupBy("column_name").agg(max(col("cnt")).as("top_cnt"))
    // modal value straight off the staged frame (no corpus re-scan):
    // min(v) over the digests tied at top_cnt is the oracle's
    // ORDER BY cnt DESC, v ASC resolution, since v is constant per
    // digest under the p01 128-bit collision assumption
    val top = grouped.filter(col("dg").isNotNull)
      .join(broadcast(maxc), "column_name")
      .filter(col("cnt") === col("top_cnt"))
      .groupBy("column_name")
      .agg(min(col("v")).as("top_value"), max(col("top_cnt")).as("top_cnt"))
    stats.join(broadcast(minmax), "column_name").join(top, "column_name")
  }


  /** The FK-discovery domain: every integral and string column of the
    * relational schema, tagged with its type family, derived from the
    * table schemas and mirrored here so the generated oracle and the
    * Spark side can never silently diverge (the Spark side
    * require-checks the live schemas against this list, the p89
    * pattern). Join keys live in the integral and string families;
    * float and timestamp columns are measures with no equality-stable
    * FK semantics, so they are not candidates. */
  private[graft] val FkDomain: Seq[(String, String, String)] = Seq(
    ("region", "r_regionkey", "int"), ("region", "r_name", "str"),
    ("nation", "n_nationkey", "int"), ("nation", "n_name", "str"),
    ("nation", "n_regionkey", "int"),
    ("customer", "c_custkey", "int"), ("customer", "c_name", "str"),
    ("customer", "c_nationkey", "int"), ("customer", "c_mktsegment", "str"),
    ("supplier", "s_suppkey", "int"), ("supplier", "s_name", "str"),
    ("supplier", "s_nationkey", "int"),
    ("part", "p_partkey", "int"), ("part", "p_name", "str"),
    ("part", "p_brand", "str"), ("part", "p_type", "str"),
    ("part", "p_size", "int"),
    ("orders", "o_orderkey", "int"), ("orders", "o_custkey", "int"),
    ("orders", "o_orderstatus", "str"), ("orders", "o_orderpriority", "str"),
    ("lineitem", "l_orderkey", "int"), ("lineitem", "l_partkey", "int"),
    ("lineitem", "l_suppkey", "int"), ("lineitem", "l_linenumber", "int"),
    ("lineitem", "l_returnflag", "str"), ("lineitem", "l_linestatus", "str"))


  /** All ordered cross-table same-family (child, parent) pairs over
    * [[FkDomain]] — the schema-driven candidate enumeration both
    * engines share. */
  private[graft] val FkCandidatePairs
      : Seq[((String, String, String), (String, String, String))] =
    for {
      c <- FkDomain; p <- FkDomain
      if c._1 != p._1 // an FK relates two tables; skip within-table pairs
      if c._3 == p._3 // type-compatible = same family (int↔int, str↔str)
    } yield (c, p)


  /** Join-key (FK) discovery — the schema-inference sibling of p89's
    * profiler, with the candidates ENUMERATED from the schema rather
    * than hand-listed (the round-9 gap): every cross-table ordered pair
    * of integral columns is a candidate, a pair survives iff the parent
    * is exactly unique and the child's exact NDV is ≤ the parent's, and
    * a surviving pair is an FK iff every distinct child value appears in
    * the parent (containment). The catalog's ANALYZE stats (the same
    * NDVs CBO join-reorder reads) prune hopeless pairs before any data
    * moves — with a 2× margin, far beyond HLL error, so the approximate
    * prune can never drop a pair the exact gate would keep; the exact
    * gate computed in-plan from the profiles stays authoritative, which
    * is what keeps the DuckDB twin reproducible. Each column's distinct
    * table is built ONCE and shared by every pair it appears in (the
    * round-9 version re-distincted per pair); each surviving pair costs
    * one keyed LEFT ANTI join of two distinct tables — linear, no
    * pairwise value work — and the summary carries counts so a
    * NEAR-containment (dirty FK) is visible, not just the boolean.
    * Dense-integer key spaces make some containments hold by accident
    * (region keys ⊂ nation keys): reported as found — containment-based
    * discovery over-approximates by design and the ranking/pruning
    * belongs to the consumer, exactly like the published
    * inclusion-dependency miners. */
  private[queries] def p90FkDiscovery: Q = (s, d) => {
    import org.apache.spark.sql.types.{ByteType, ShortType}
    val tables: Map[String, DataFrame] = Map(
      "region" -> Tables.region(s, d), "nation" -> Tables.nation(s, d),
      "customer" -> Tables.customer(s, d),
      "supplier" -> Tables.supplier(s, d), "part" -> Tables.part(s, d),
      "orders" -> Tables.orders(s, d), "lineitem" -> Tables.lineitem(s, d))
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    val live = FkDomain.map(_._1).distinct.flatMap(t =>
      tables(t).schema.fields.collect {
        case f if integral(f.dataType) => (t, f.name, "int")
        case f if f.dataType == StringType => (t, f.name, "str")
      })
    require(live == FkDomain,
      s"relational schema drifted: $live vs $FkDomain — update " +
        "Pipeline.FkDomain (the p90 oracle regenerates from it)")
    // approximate prune off the registered catalog's ANALYZE stats —
    // one optimized plan per TABLE (stats carry every column), not per
    // domain column
    graft.sql.SparkSqlRunner.ensureRegistered(s, d)
    val approx: Map[(String, String), (Option[Long], Option[Long])] =
      FkDomain.map(_._1).distinct.flatMap { t =>
        val stats = s.table(t).queryExecution.optimizedPlan.stats
        FkDomain.filter(_._1 == t).map { case (_, c, _) =>
          val nd = stats.attributeStats.collectFirst {
            case (a, cs) if a.name == c => cs.distinctCount.map(_.toLong)
          }.flatten
          (t, c) -> (nd, stats.rowCount.map(_.toLong))
        }
      }.toMap
    def mayBeUnique(k: (String, String, String)): Boolean =
      approx((k._1, k._2)) match {
        case (Some(nd), Some(n)) => nd * 2L >= n
        case _                   => true // no stats → never prune
      }
    def mayContainFewer(c: (String, String, String),
        p: (String, String, String)): Boolean =
      (approx((c._1, c._2))._1, approx((p._1, p._2))._1) match {
        case (Some(cn), Some(pn)) => cn <= pn * 2L
        case _                    => true
      }
    val candidates = FkCandidatePairs.filter { case (c, p) =>
      mayBeUnique(p) && mayContainFewer(c, p)
    }
    // a corpus whose stats prune every pair yields an empty report, not
    // an empty-reduce crash (graceful-degradation contract)
    if (candidates.isEmpty) fkEmptyReport(s)
    else fkContainments(s, tables, candidates)
  }


  private[queries] def fkEmptyReport(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("child_col", StringType),
        StructField("parent_col", StringType),
        StructField("n_child_distinct", LongType),
        StructField("n_unmatched", LongType),
        StructField("is_fk", IntegerType))))
  }


  private[queries] def fkContainments(s: SparkSession, tables: Map[String, DataFrame],
      candidates: Seq[((String, String, String), (String, String, String))])
      : DataFrame = {
    // ONE stacked distinct-value table over every column any candidate
    // touches, then ONE (family, value)-keyed self-join counting shared
    // values for ALL pairs at once — the SPIDER/BINDER-family
    // inclusion-dependency shape. Per value the join fan-out is bounded
    // by (#columns containing it)² ≤ |domain|², so the whole discovery
    // is two keyed shuffles however many candidate pairs the schema
    // yields (the per-pair anti-join form paid 27 distincts + 78 joins:
    // measured 14.3 → see PLANS.md).
    // The distinct runs per type family on the RAW TYPED value and the
    // 16-byte md5 digest is projected AFTER it, off the NDV-sized
    // result: digesting before the distinct re-hashed every CELL of
    // every fact-table key column (~436M cast+md5 at sf10, 1340 CPU-s
    // in the stack stage — 60M of them on 1-char flag columns with 3
    // distinct values). The FK domain is by definition key-class
    // columns (8-byte integrals, short enum/name strings), so the raw
    // value on the distinct's exchange is at or under digest width —
    // p89's digests-before-exchange rule exists for its multi-KB text
    // payloads, which cannot appear here. Integers digest through
    // their canonical decimal string (injective, so long-distinct ≡
    // string-distinct and the digests are bit-identical to the
    // digest-first form); the containment self-join's exchange stays
    // digest-keyed, same 128-bit collision assumption as p01/p89.
    val needed = candidates.flatMap(cp => Seq(cp._1, cp._2)).distinct
    // The distinct runs PER BRANCH on the bare value column: a fact
    // table's key column is near-unique, so a stacked distinct's
    // partial hash map held one ~row-group-sized entry set per task
    // and fell back to sort-based aggregation — jstack showed the
    // sf10 stragglers inside UnsafeExternalSorter.spill with the
    // TimSort comparator string-comparing the CONSTANT cid key that
    // led every entry (always equal, pure overhead). A single 8-byte
    // (or bare string) agg key keeps the map narrow and the spill
    // comparator primitive; fam/cid/digest are constants projected
    // AFTER the distinct, so nothing but the value ever rides the
    // exchange.
    def famStack(fam: String): Option[DataFrame] = {
      val cs = needed.filter(_._3 == fam)
      if (cs.isEmpty) None
      else Some(cs.map { case (t, c, _) =>
          val v = if (fam == "int") col(c).cast(LongType) else col(c)
          tables(t).select(v.as("v"), lit(s"$t.$c").as("cid"))
            .filter(col("v").isNotNull)
        }.reduce(_ unionAll _)
        .distinct()
        .select(lit(fam).as("fam"), col("cid"),
          unhex(md5(col("v").cast(StringType))).as("dg")))
    }
    val stacked = Seq(famStack("int"), famStack("str")).flatten
      .reduce(_ unionAll _)
      .stagedDisk // one row per (column, DISTINCT value digest): key columns make this table-sized
    val profile = stacked.groupBy("fam", "cid")
      .agg(count(lit(1)).as("nd"))
    val matched = stacked
      .join(stacked.select(col("fam"), col("cid").as("pcid"), col("dg")),
        Seq("fam", "dg"))
      .filter(col("cid") =!= col("pcid"))
      .groupBy("cid", "pcid").agg(count(lit(1)).as("n_matched"))
    val rowsPerTable = needed.map(_._1).distinct.map(t =>
        tables(t).agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("ptbl"), col("n_rows")))
      .reduce(_ unionAll _)
    val candDf = s.createDataFrame(candidates.map {
        case ((ct, cc, fam), (pt, pc, _)) =>
          (fam, s"$ct.$cc", s"$pt.$pc", pt)
      }).toDF("fam", "ccid", "pcid", "ptbl")
    // every gate joins tiny frames (|columns| / |tables| rows); a column
    // with NO values has no profile row, so the inner joins double as
    // the no-evidence-no-claim gate (EmptyInputSpec: empty tables must
    // yield zero vacuous FK claims)
    candDf
      .join(profile.select(col("fam"), col("cid").as("ccid"),
        col("nd").as("n_child_distinct")), Seq("fam", "ccid"))
      .join(profile.select(col("fam"), col("cid").as("pcid"),
        col("nd").as("parent_nd")), Seq("fam", "pcid"))
      .join(broadcast(rowsPerTable), "ptbl")
      .join(matched.withColumnRenamed("cid", "ccid"),
        Seq("ccid", "pcid"), "left_outer")
      .filter(col("parent_nd") === col("n_rows") && // exact: parent unique
        col("n_child_distinct") <= col("parent_nd")) // exact NDV gate
      .select(col("ccid").as("child_col"), col("pcid").as("parent_col"),
        col("n_child_distinct"),
        (col("n_child_distinct") - coalesce(col("n_matched"), lit(0L)))
          .as("n_unmatched"),
        when(col("n_child_distinct") === coalesce(col("n_matched"), lit(0L)),
          1).otherwise(0).as("is_fk"))
  }


  /** Decontamination release gate — p92's detection acted on, the way
    * the published pipelines ship (GPT-3/The Pile drop the overlapping
    * TRAINING documents before release): every train doc carrying any
    * eval 8-gram is removed, and the op emits the before/after/dropped
    * census a release note leads with — doc and token counts, so the
    * cost of the decontamination is a number beside its effect. The
    * flagged list is p92's own output (one shared construction, the
    * p37→p75 detect→act pattern); removal is one doc-keyed LEFT ANTI
    * join; censuses are two bounded aggregates of the staged train
    * projection. */
  private[queries] def p109DecontamRelease: Q = (s, d) => {
    val flagged = p92Decontaminate(s, d).select("doc_id")
    val train = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(29L)) =!= 7)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"))
      .staged // read twice: the before census + the anti-join survivors
    def census(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    val before = census(train, "train_before")
    val after = census(train.join(flagged, Seq("doc_id"), "left_anti"),
      "train_after")
    val dropped = before.select(col("n_docs").as("b_docs"),
        col("n_tokens").as("b_toks"))
      .crossJoin(broadcast(after.select(col("n_docs").as("a_docs"),
        col("n_tokens").as("a_toks")))) // 1-row scalar sides
      .select(lit("dropped").as("stage"),
        (col("b_docs") - col("a_docs")).as("n_docs"),
        (col("b_toks") - col("a_toks")).as("n_tokens"))
    before.union(after).union(dropped)
  }


  /** Pipeline health report — the monitor of monitors: one fixed-shape
    * (check, value, threshold, alarm) table summarizing every standing
    * alarm this engine computes — feed anomalies (p84), source drift
    * (p81), embedding-codebook drift (p100), dedup-index recall (p93),
    * corpus↔index integrity (p87) — the single table a pipeline
    * dashboard pages on. Each row is a bounded aggregate OF the
    * corresponding operator's own output (the Scala calls the same Q
    * functions; the oracle embeds the same five sub-oracles verbatim),
    * so the report cannot drift from the checks it summarizes; the
    * expensive substrates (pair graph, kmeans assignment) come from the
    * shared session artifacts, paid once per corpus build. Thresholds
    * are the classic lines (PSI 0.2, recall 0.8, zero tolerance for
    * anomalies/orphans); `alarm` is NULL when a check has no defined
    * value (an empty corpus has no recall). The semantic-contamination
    * row composes the exact screen (p126's N·|eval| brute screen, the
    * release/weekly posture); p137 is the same report on the served
    * screen. */
  private[queries] def p110HealthReport: Q =
    healthReport(p126SemanticDecontam)

  private def healthReport(semanticScreen: Q): Q = (s, d) => {
    def row(check: String, v: DataFrame, threshold: Double,
        higherBad: Boolean): DataFrame = {
      val value = col("v").cast(DoubleType)
      v.select(lit(check).as("check"), value.as("value"),
        lit(threshold).as("threshold"),
        (if (higherBad) value > threshold else value < threshold)
          .as("alarm"))
    }
    row("feed_anomaly_cells",
      p84HourlyAnomaly(s, d).agg(count(lit(1)).as("v")), 0.0, true)
      .union(row("source_drift_psi_max",
        p81SourceDriftPsi(s, d).agg(max(col("psi")).as("v")), 0.2, true))
      .union(row("embedding_drift_psi",
        p100EmbeddingDrift(s, d).agg(max(col("psi")).as("v")), 0.2, true))
      .union(row("dedup_index_recall",
        p93DedupRecall(s, d).select(col("recall").as("v")), 0.8, false))
      .union(row("index_orphans",
        p87RefIntegrity(s, d).agg(sum(col("n_orphans")).as("v")), 0.0, true))
      .union(row("cusum_drift_alarms",
        p122CusumDrift(s, d).agg(
          sum(col("alarm").cast(LongType)).as("v")), 0.0, true))
      .union(row("psi_window_alarms",
        p124PsiBaselineDrift(s, d).agg(
          sum(when(col("level") >= 1, 1L).otherwise(0L)).as("v")),
        0.0, true))
      // contamination is a release-blocking standing alarm: all three
      // screens count FLAGGED TRAIN DOCS, zero tolerance. p92/p126
      // emit one row per flagged doc (COUNT); p133 emits the full
      // train grid with a 0/1 flag (SUM) — the verbatim-leak count is
      // the single most actionable release alarm the engine computes,
      // and the grid rule means a clean corpus reads as an explicit 0
      // (an EMPTY corpus reads NULL, the no-defined-value convention)
      .union(row("lexical_contam_docs",
        p92Decontaminate(s, d).agg(count(lit(1)).as("v")), 0.0, true))
      .union(row("semantic_contam_docs",
        semanticScreen(s, d).agg(count(lit(1)).as("v")), 0.0, true))
      .union(row("substring_contam_docs",
        p133SubstringContam(s, d).agg(
          sum(col("verbatim_leak").cast(LongType)).as("v")), 0.0, true))
  }

  /** The health report in its AT-CADENCE posture — p110 with the
    * semantic-contamination row on the IVF-SERVED screen (p136) instead
    * of the exact one: at sf10 the exact screen alone put p110 at
    * 1175 s, which a monitor that pages cannot afford (p129 and
    * graft.tools.ServedRecall price the recall trade). Registered as
    * its own gate query so the served screen is oracle-checked end to
    * end (its oracle twin embeds the p136 oracle where p110's embeds
    * p126's). The screen is a plain parameter, so building p110 and
    * p137 on one shared session cannot cross-contaminate postures. */
  private[queries] def p137HealthReportIvf: Q =
    healthReport(p136SemanticDecontamIvf)


  /** Per-source contamination breakdown — the ACTIONABLE form of the
    * two release screens: p92 (lexical 8-gram) and p126 (semantic
    * cosine) flag documents, but the decision a release makes is about
    * SOURCES — a crawl source carrying the eval set gets dropped or
    * re-filtered wholesale, which is how published release notes break
    * their contamination sections down. Per source: train-doc census,
    * docs flagged by each screen, and docs flagged by BOTH (the
    * verbatim class; flagged-semantic-only is the paraphrase class).
    * Every source present in the train split keeps its row at zero
    * flags (the p100 grid rule — a release table never silently drops
    * a clean source). Both flag sets are already bounded op outputs;
    * this adds one narrow doc→source join each and a sources-sized
    * aggregate — nothing corpus-scaled beyond what p92/p126 pay. */
  private[queries] def p130ContamBySource: Q = (s, d) => {
    val src = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(29L)) =!= 7)
      .select(col("doc_id"), col("source"))
      .staged // read by the census and both flag joins
    val lex = p92Decontaminate(s, d).select(col("doc_id"))
      .join(src, "doc_id").staged
    val sem = p126SemanticDecontam(s, d).select(col("doc_id"))
      .join(src, "doc_id").staged
    val census = src.groupBy("source")
      .agg(count(lit(1)).as("n_train_docs"))
    def flagged(df: DataFrame, name: String): DataFrame =
      df.groupBy("source").agg(count(lit(1)).cast(LongType).as(name))
    val both = lex.join(sem, Seq("doc_id", "source"))
    census
      .join(flagged(lex, "n_lexical"), Seq("source"), "left_outer")
      .join(flagged(sem, "n_semantic"), Seq("source"), "left_outer")
      .join(flagged(both, "n_both"), Seq("source"), "left_outer")
      .select(col("source"), col("n_train_docs"),
        coalesce(col("n_lexical"), lit(0L)).as("n_lexical"),
        coalesce(col("n_semantic"), lit(0L)).as("n_semantic"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
  }



  /** Source-trust policy table for provenance-aware dedup: tier 1 =
    * curated sources, tier 2 = vetted web, everything else tier 3
    * (raw crawl). In production this is a config input per corpus
    * build; here it is a declared constant that BOTH the Spark
    * expression and the DuckDB oracle CASE are generated from, so the
    * two sides cannot drift (the p89 oracle-generation rule). */
  private[graft] val SourceTiers: Seq[(Int, Seq[String])] = Seq(
    1 -> (0 to 4).map("src" + _),
    2 -> (5 to 12).map("src" + _))

  private[graft] val DefaultTier = 3

  private[queries] def tierOf(c: Column): Column =
    SourceTiers.foldRight(lit(DefaultTier): Column) { case ((t, ss), acc) =>
      when(c.isin(ss: _*), lit(t)).otherwise(acc)
    }

  private[queries] def sqlTier(c: String): String =
    "CASE " + SourceTiers.map { case (t, ss) =>
      s"WHEN $c IN (${ss.map("'" + _ + "'").mkString(", ")}) THEN $t"
    }.mkString(" ") + s" ELSE $DefaultTier END"


  /** Provenance-priority canonical selection — the keeper policy real
    * curation pipelines apply when near-duplicates span sources of
    * different trust (keep the curated copy of a page over the crawl
    * copy, whatever their lengths — the RefinedWeb/Dolma rule): within
    * each near-dup cluster the representative is chosen by source TIER
    * first ([[SourceTiers]]), then p41's (longest, min doc_id) rule as
    * the tiebreak. The length-only pick is emitted beside it with an
    * `overridden` flag, so the output IS the policy audit: which
    * clusters provenance decided differently. Both picks run through
    * the native bounded-heap top-1 per key over the one staged
    * cluster-member table (≤ tasks×clusters shuffle rows each, no
    * window sort); members are the p32 label artifact joined to the
    * narrow (doc_id, source, n_chars) projection, so the text never
    * moves. */
  private[queries] def p99ProvenanceReps: Q = (s, d) => {
    val members = dupClusterLabels(s, d)
      .select(col("doc_id"), col("cluster_id"))
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          tierOf(col("source")).as("tier")),
        "doc_id")
      .staged // read 3x: two top-1 passes + the size census
    val prov = graft.plans.TopKPerKey.topK(members, Seq("cluster_id"),
      Seq(("tier", true), ("n_chars", false), ("doc_id", true)), 1)
      .select(col("cluster_id"), col("doc_id").as("rep_prov"),
        col("tier").as("rep_tier"))
    val longest = graft.plans.TopKPerKey.topK(members, Seq("cluster_id"),
      Seq(("n_chars", false), ("doc_id", true)), 1)
      .select(col("cluster_id"), col("doc_id").as("rep_longest"))
    members.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .join(prov, "cluster_id")
      .join(longest, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("rep_prov"),
        col("rep_tier"), col("rep_longest"),
        (col("rep_prov") =!= col("rep_longest")).as("overridden"))
  }


  /** Cross-source near-dup matrix — which sources MIRROR each other:
    * near-dup pair counts aggregated to unordered (source, source)
    * cells. The off-diagonal is the mirror-site / re-hosting signal the
    * published corpus reports lead their dedup sections with (one crawl
    * re-serving another's pages), and the diagonal is each source's
    * internal duplication; both feed the per-source quota and tier
    * decisions (p79, p99). Cost on top of the pair-graph artifact: two
    * doc-keyed joins of the LSH-bounded pair list against the narrow
    * (doc_id, source) projection — the pair side is the small one and
    * AQE broadcasts it — then a ≤ sources² aggregation. */
  private[queries] def p101SourceMirror: Q = (s, d) => {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    nearDupPairs(s, d).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("source_a") =!= col("source_b")).as("cross_source"))
  }


  /** One-query dataset card — the corpus datasheet a dataset release
    * leads with ("Datasheets for Datasets", Gebru et al. 2021; every
    * published-corpus paper's table 1), composed from the engine's own
    * building blocks in a single plan: corpus census, language and
    * source composition, quality-gate pass rate (p23's gate), exact-
    * and near-duplication rates (p01's hash rule + the p02/p32 pair
    * and label artifacts), and eval-set contamination (p92's 8-gram
    * overlap). Fixed (section, metric, n, frac) schema so the card is
    * machine-diffable between corpus versions. Scale shape: ONE corpus
    * scan builds the staged per-doc base (tokens/hash/quality gate all
    * map-side); every section is then a bounded aggregation of that
    * base or of an already-LSH-bounded artifact — the near-dup and
    * contamination sections reuse the shared pair-graph/label
    * machinery rather than re-sketching; output is ~(5 + langs +
    * sources + 4) rows at any corpus size. */
  private[queries] def p102DatasetCard: Q = (s, d) => {
    val t = tokens(col("text"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(t).cast(LongType).as("n_toks"),
        sha2(col("text"), 256).as("h"),
        (size(filter(t, x => x.isin(Stopwords: _*))) / size(t)
          >= QualityMinStopRatio &&
          size(t).cast(LongType) >= QualityMinTokens).as("qpass"))
      .staged // one corpus scan, read by census + both share sections
    val census = base.agg(count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"), sum("n_chars").as("n_chars"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("qpass"), 1L).otherwise(0L)).as("n_quality"),
      (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dup"))
      .staged // 1-row scalar side, read by every rate below
    val nDocs = census.select(col("n_docs"))
    // empty-corpus guard: ANSI mode turns /0 into an error, and the
    // card must degrade to NULL rates, not a crash (EmptyInputSpec)
    def rate(n: Column): Column =
      when(col("n_docs") === 0, lit(null).cast(DoubleType))
        .otherwise(round(n.cast(DoubleType) / col("n_docs"), 6))
    val censusRows = census.select(explode(array(
        struct(lit("n_docs").as("metric"), col("n_docs").as("n")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").as("n")),
        struct(lit("n_chars").as("metric"), col("n_chars").as("n")),
        struct(lit("n_sources").as("metric"), col("n_sources").as("n")),
        struct(lit("n_langs").as("metric"), col("n_langs").as("n"))))
        .as("kv"))
      .select(lit("corpus").as("section"), col("kv.metric").as("metric"),
        col("kv.n").as("n"), lit(null).cast(DoubleType).as("frac"))
    def share(key: String, section: String): DataFrame =
      base.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(nDocs))
        .select(lit(section).as("section"), col(key).as("metric"),
          col("n"), rate(col("n")).as("frac"))
    val qualityRow = census.select(lit("quality").as("section"),
      lit("gate_pass").as("metric"), col("n_quality").as("n"),
      rate(col("n_quality")).as("frac"))
    val exactRow = census.select(lit("dedup").as("section"),
      lit("exact_dup_docs").as("metric"), col("n_exact_dup").as("n"),
      rate(col("n_exact_dup")).as("frac"))
    val nearRows = dupClusterLabels(s, d)
      .agg(count(lit(1)).as("n_near"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .crossJoin(broadcast(nDocs))
      .select(explode(array(
        struct(lit("near_dup_docs").as("metric"), col("n_near").as("n"),
          rate(col("n_near")).as("frac")),
        struct(lit("near_dup_clusters").as("metric"),
          col("n_clusters").as("n"),
          lit(null).cast(DoubleType).as("frac")))).as("kv"))
      .select(lit("dedup").as("section"), col("kv.metric").as("metric"),
        col("kv.n").as("n"), col("kv.frac").as("frac"))
    val contamRow = p92Decontaminate(s, d)
      .agg(count(lit(1)).as("n_contam"))
      .crossJoin(broadcast(nDocs))
      .select(lit("contamination").as("section"),
        lit("contaminated_docs").as("metric"), col("n_contam").as("n"),
        rate(col("n_contam")).as("frac"))
    censusRows.union(share("lang", "lang")).union(share("source", "source"))
      .union(qualityRow).union(exactRow).union(nearRows).union(contamRow)
  }


  /** Source scorecard — the per-source ranking table a corpus team
    * reads before deciding what to crawl more of and what to drop
    * (RefinedWeb/Dolma-style source tables): per source, document and
    * token counts, the Gopher-rule pass rate (p76's gate), the
    * exact-duplicate rate (p01's sha256 keeper rule: a doc counts as
    * dup when a smaller doc_id carries identical text anywhere in the
    * corpus), and the near-dup involvement rate (fraction of the
    * source's docs linked by any p02 pair). A source with a high dup
    * rate against a curated twin is a mirror (p101 names the pairs);
    * a low pass rate is crawl noise.
    *
    * Scale shape: one corpus scan builds (source, tokens, sha256);
    * the exact-dup verdict is a hash-keyed min + hash-keyed join back
    * (p01's shuffle, carrying digests); the near-dup side is the
    * LSH-bounded pair artifact exploded to a distinct doc list; one
    * final source-keyed aggregation with map-side combine. Fractions
    * follow p107's exact-ppm rule. */
  private[queries] def p118SourceScorecard: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast(LongType).as("n_tok"),
      sha2(col("text"), 256).as("h"))
    val keepBits = gopherRules(docs)
      .select(col("doc_id"), col("keep").cast(LongType).as("keep"))
    val keepers = base.groupBy("h").agg(min(col("doc_id")).as("keeper"))
    val flagged = base.join(keepers, "h")
      .select(col("doc_id"), col("source"), col("n_tok"),
        when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)
          .as("is_exact_dup"))
    val linked = nearDupPairs(s, d)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_linked", lit(1L))
    def ppm(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast(DoubleType))
        .otherwise(ldiv(num * lit(1000000L), den).cast(DoubleType)
          / lit(1000000.0))
    flagged.join(keepBits, "doc_id")
      .join(linked, Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("keep")).as("n_pass"),
        sum(col("is_exact_dup")).as("n_exact"),
        sum(coalesce(col("is_linked"), lit(0L))).as("n_near"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        ppm(col("n_pass"), col("n_docs")).as("gopher_pass_frac"),
        ppm(col("n_exact"), col("n_docs")).as("exact_dup_frac"),
        ppm(col("n_near"), col("n_docs")).as("near_dup_frac"))
  }
}
