package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  * "samples":{...},"passes":4,"sf":...}`. `value` is the raw sum of
  * each query's minimum over four interleaved timed passes, taken after
  * one untimed warm-up pass; a query that fails in every pass reads -1,
  * and so does the total.
  *
  * Queries are executed through the `noop` sink so every output column is
  * actually computed (a bare `count()` would let Catalyst prune the
  * projection and under-report the work).
  */
object Bench {
  /** Headline subset: the shapes whose cost dominates at scale —
    * full-scan aggregation, fact-fact joins, sort, window, dedup. */
  val headline: Seq[String] = Seq(
    "q19_agg_group",      // TPC-H Q1 pricing summary (full lineitem scan)
    "q30_top_revenue",    // Q3 shipping priority (3-way join + top-k)
    "q31_local_volume",   // Q5 star join (6 tables)
    "q32_returned_items", // Q10 join + group + top-k
    "q11_join_merge",     // wide fact-fact sort-merge join
    "q13_sort_desc",      // global sort
    "q14_sort_multikey",  // multi-key global sort
    "q28_window_rank",    // window function
    "q09_join_multikey",  // composite-key window aggregate
    "q15_distinct",       // distinct
    "p01_exact_dedup",    // content-hash dedup over documents
    "p02_minhash_neardup",// banded MinHash LSH + exact Jaccard verify
    "p04_ann_cosine_topk",// brute-force cosine top-k (ANN baseline)
    "p42_ann_quantized",  // int8-quantized scan + exact re-rank (ANN fast path)
    "p06_text_stats",     // per-doc text analysis (pure map)
    "p11_events_sessions",// sessionization window over events
    "p15_asof_join",      // as-of join via tagged union + windowed last
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Bench reports STANDALONE per-query cost, comparable across rounds:
    // with the session artifact registry on, the warmup pass would build
    // the near-dup pair graph once and every timed p02 run would measure
    // the cached read — a ~30x "win" that is really amortization. The
    // production-shape saving is measured honestly (and separately) by
    // `graft.tools.Profile` runs with graft.artifacts.reuse=true against
    // false, recorded in PLANS.md ("Round-10: pair-graph artifacts").
    spark.conf.set("graft.artifacts.reuse", "false")
    // a headline name missing from SparkEntry fails in `timed`, reads -1
    // and poisons the total like any failing query
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    // Untimed warmup: JIT + codegen + parquet footer cache, so the first
    // timed query doesn't absorb JVM startup (±30% noise otherwise). The
    // codegen part holds only because Session.local() sizes Spark's
    // generated-class cache above one pass's 231 classes; at Spark's
    // 100-entry default every pass recompiled all of them.
    headline.foreach { n =>
      try run(n)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
      }
    }
    // Min of four timed runs per query, INTERLEAVED (four full passes
    // over the query list, not reps back-to-back): a single run carries
    // ±30% machine-load noise, and back-to-back reps let one multi-second
    // load spike poison every rep of the same query — the per-query
    // outliers that hopped between rounds 3/4/5. Spreading the reps
    // across passes makes the min robust to transient interference while
    // keeping total bench time bounded.
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      try run(name)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        // a fast failure must not win the min and mask the honest run
        return Double.PositiveInfinity
      }
      (System.nanoTime() - t0) / 1e9
    }
    // per pass: Janino compiles and JIT seconds spent inside the timed
    // queries — a warm pass compiles nothing once the codegen cache holds
    // the working set, so a nonzero count is recompilation the wall paid
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitS: Double =
      if (jit != null && jit.isCompilationTimeMonitoringSupported)
        jit.getTotalCompilationTime / 1e3
      else Double.NaN
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (passes, perPass) = (1 to 4).map { _ =>
      val (n0, j0) = (compiles, jitS)
      val times = headline.map(n => n -> timed(n)).toMap
      (times, (compiles - n0, jitS - j0))
    }.unzip
    val results = headline.map { name =>
      val t = passes.map(_(name)).min
      name -> (if (t.isFinite) t else -1.0) // -1 marks a query that always failed
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every pass's raw time per query (3-decimal), so a reader can see
    // the SPREAD behind each min. A failed rep prints as -1.
    val samples = headline.map { name =>
      val vs = passes.map(_(name)).map(t =>
        if (t.isFinite) math.rint(t * 1000) / 1000 else -1.0)
      "\"" + name + "\":[" + vs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // a twice-failed query must not quietly IMPROVE the headline total:
    // any failure poisons it to -1 so round-over-round comparisons scream
    val total =
      if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""samples":$samples,"passes":${passes.size},"sf":"$sfDir"}"""
    // the per-pass compile counters ride only in the file copy, so the
    // stdout line keeps its shape; NaN (no JIT timing) prints as -1
    val sidecar = json.stripSuffix("}") +
      s""","codegen_compiles":${perPass.map(_._1).mkString("[", ",", "]")},""" +
      s""""jit_compile_s":${perPass.map { case (_, j) =>
        if (j.isNaN) -1.0 else math.rint(j * 1000) / 1000 }.mkString("[", ",", "]")}}"""
    // stdout for the driver's scraper (raw via build.sbt outputStrategy),
    // plus a file copy in case stdout is decorated by the launcher.
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), sidecar)
    spark.stop()
  }
}
