package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
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

  /** Single-core host-speed canary: a serially-dependent 500M-step LCG
    * (each step needs the last, so neither JIT vectorization nor OoO
    * parallelism can compress it), min of 3 timed passes after an
    * untimed JIT warmup. Emitted with every bench so round-over-round
    * totals are host-normalizable — the r8→r9 "regression or slow
    * host?" forensics burned two rounds and ended up pinned on exactly
    * this number, measured ad hoc. Label field names the recipe so a
    * future change to the loop can never be compared to old values. */
  private[graft] def hostCanary(): Double = {
    def pass(): Double = {
      var acc = 12345L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < 500000000L) {
        acc = acc * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.println("") // keep acc live for the JIT
      dt
    }
    pass()
    (1 to 3).map(_ => pass()).min
  }

  /** Parallel host-speed canary: 32 threads each running a
    * serially-dependent 100M-step LCG, wall-clock to join them all,
    * min of 3 timed passes after an untimed warmup. The serial canary
    * cannot see contention that only bites PARALLEL execution — CPU
    * oversubscription by co-tenants, cgroup quota, thermal or
    * scheduler pressure across cores — which is exactly the regime the
    * 32-way bench runs in: round 11's suite drifted 19% while the
    * serial canary moved 1%, an unfalsifiable "probably host noise".
    * On an uncontended 32-vCPU host this sits near the serial
    * canary's per-step rate (each thread does 1/5 the serial steps);
    * it stretching while the serial number holds IS the contention
    * signature. Label names the recipe, same rule as the serial one. */
  private[graft] def hostCanaryParallel(threads: Int = 32): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { k =>
        val t = new Thread(() => {
          var acc = 12345L + k
          var i = 0L
          while (i < 100000000L) {
            acc = acc * 6364136223846793005L + 1442695040888963407L
            i += 1
          }
          if (acc == 42L) System.err.println("") // keep acc live
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    (1 to 3).map(_ => pass()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Bench reports STANDALONE per-query cost, comparable across rounds:
    // with the session artifact registry on, the warmup pass would build
    // the near-dup pair graph once and every timed p02 run would measure
    // the cached read — a ~30x "win" that is really amortization. The
    // production-shape saving is measured honestly (and separately) by
    // graft.tools.TimeQuery's reuse A/B, recorded in PLANS.md.
    spark.conf.set("graft.artifacts.reuse", "false")
    val names = headline.filter(SparkEntry.queries.contains)
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    // Untimed warmup: JIT + codegen + parquet footer cache, so the first
    // timed query doesn't absorb JVM startup (±30% noise otherwise). The
    // codegen part holds only because Session.local() sizes Spark's
    // generated-class cache above one pass's 231 classes; at Spark's
    // 100-entry default every pass recompiled all of them.
    names.foreach { n =>
      try run(n)
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
      }
    }
    // Min of three timed runs per query, INTERLEAVED (three full passes
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
    // De-weathering (round 15 post-mortem): the recorded total tracked the
    // PARALLEL canary, not the tree — same-tree same-day runs spanned
    // 10.95 s @ canary_par 0.149 to 16.79 s @ 0.303, and one bad-weather
    // draw put a code-noop round at 1.85× the contract baseline. Two
    // defenses, both in the artifact:
    //  1. RETRY under bad weather: measure canary_par before every pass;
    //     after the minimum 4 passes keep adding passes (up to 8) until
    //     at least one pass ran inside the tolerance band of the best
    //     recorded reference weather — the min-over-passes then includes
    //     a fair-weather sample whenever the host offers one.
    //  2. NORMALIZED TOTAL beside the raw one: per pass, scale times by
    //     (ref / that pass's canary) — "what this pass would have read at
    //     reference weather". Raw `value` remains the driver's scraped
    //     contract number, untouched. Estimator de-biased in round 17
    //     (the r16 artifact's norm read 0.83x baseline, below any
    //     same-tree fair-weather RAW total — impossible if the model
    //     held, so the old estimator was biased low two ways):
    //     a. the canary was measured only BEFORE a pass, so a mid-pass
    //        weather improvement scaled that pass's honest times down by
    //        a stale bad-weather ratio. Now measured before AND after;
    //        the pass is scaled by the CONSERVATIVE reading — the
    //        faster (smaller) canary, i.e. the best weather the pass
    //        could have enjoyed, which scales its times down the least.
    //     b. min-over-passes of scaled times rewards any pass whose
    //        ratio errs low (queries are not pure CPU, so ratios carry
    //        model error; min selects the error's low tail). Now
    //        MEDIAN-of-scaled per query — robust to a per-pass spike
    //        with >= 4 passes, and centered rather than tail-seeking.
    val canaryParRef = 0.138 // BENCH_r14's recorded weather, best on record
    val canaryBand = canaryParRef * 1.3
    val minPasses = 4
    val maxPasses = 8
    // per pass: (conservative canary, pre, post, times)
    val passBuf =
      Vector.newBuilder[(Double, Double, Double, Map[String, Double])]
    // per pass: Janino compiles and JIT seconds spent inside the timed
    // queries — a warm pass compiles nothing once the codegen cache holds
    // the working set, so a nonzero count is recompilation the wall paid
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitS: Double =
      if (jit != null && jit.isCompilationTimeMonitoringSupported)
        jit.getTotalCompilationTime / 1e3
      else Double.NaN
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileBuf = Vector.newBuilder[(Long, Double)]
    var nPass = 0
    var bestWeather = Double.PositiveInfinity
    while (nPass < maxPasses &&
        (nPass < minPasses || bestWeather > canaryBand)) {
      val cPre = hostCanaryParallel()
      val (n0, j0) = (compiles, jitS)
      val times = names.map(n => n -> timed(n)).toMap
      compileBuf += ((compiles - n0, jitS - j0))
      val cPost = hostCanaryParallel()
      val c = math.min(cPre, cPost)
      bestWeather = math.min(bestWeather, c)
      passBuf += ((c, cPre, cPost, times))
      nPass += 1
    }
    val weathered = passBuf.result()
    val passes = weathered.map(_._4)
    val results = names.map { name =>
      val t = passes.map(_(name)).min
      name -> (if (t.isFinite) t else -1.0) // -1 marks a query that always failed
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every pass's raw time per query (3-decimal), so a reader can see
    // the SPREAD behind each min — the host-weather evidence that took
    // an interleaved r7-tree experiment to reconstruct in round 12 is
    // now in every bench artifact. A failed rep prints as -1.
    val samples = names.map { name =>
      val vs = passes.map(_(name)).map(t =>
        if (t.isFinite) math.rint(t * 1000) / 1000 else -1.0)
      "\"" + name + "\":[" + vs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // a twice-failed query must not quietly IMPROVE the headline total:
    // any failure poisons it to -1 so round-over-round comparisons scream
    val total =
      if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val normTotal =
      if (results.exists(_._2 < 0)) -1.0
      else names.map { name =>
        median(weathered.map { case (c, _, _, ts) =>
          ts(name) * (canaryParRef / c)
        })
      }.sum
    // rounded via rint, not %f: Double.toString is locale-independent,
    // so the JSON decimal point can never become a locale comma
    val canary = math.rint(hostCanary() * 1000) / 1000
    // same min-of-3 recipe per measurement; reported value is the best
    // weather seen across the run's per-pass measurements
    val canaryPar = math.rint(bestWeather * 1000) / 1000
    // [pre, post] per pass — a diverging pair is the mid-pass-shift
    // signature a reader should weigh before quoting the norm
    val canaryPerPass = weathered.map { case (_, pre, post, _) =>
      s"[${math.rint(pre * 1000) / 1000},${math.rint(post * 1000) / 1000}]"
    }.mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""samples":$samples,"passes":${passes.size},""" +
      s""""canary_sec":$canary,"canary":"lcg64-500m-minof3",""" +
      s""""canary_par_sec":$canaryPar,"canary_par":"lcg64-100mx32-minof3",""" +
      s""""canary_par_per_pass":$canaryPerPass,""" +
      s""""canary_par_ref":$canaryParRef,""" +
      s""""value_weather_norm":${math.rint(normTotal * 1000) / 1000},""" +
      s""""sf":"$sfDir"}"""
    // the per-pass compile counters ride only in the file copy, so the
    // stdout line keeps its shape; NaN (no JIT timing) prints as -1
    val perPass = compileBuf.result()
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
