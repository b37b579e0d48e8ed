package graft.queries

import graft.SparkSpec

/** The IVF-served semantic screen (p136) and the served health report
  * (p137): semantics the oracle twins cannot express — the approximation
  * CONTAINMENT contract against the exact screen, p137's one-row
  * difference from p110, and the serving plan shape. Runs at sf0.01 so
  * both screens actually flag documents. */
class ServedScreenSpec extends SparkSpec {

  private val Sf01 = "/root/testdata/sf0.01"

  test("p136's flags are a SUBSET of p126's, hit-for-hit") {
    // same τ, same eval slice, exact cosine on same-cell pairs: the
    // served screen can only MISS pairs (cell-boundary straddles),
    // never invent one — so its doc set, per-doc hit counts, and
    // per-doc best sim are all bounded by the exact screen's.
    val exact = Pipeline.queries("p126_semantic_decontam")(spark, Sf01)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(3)))
      .toMap
    val served = Pipeline.queries("p136_semantic_decontam_ivf")(spark, Sf01)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(3)))
      .toMap
    assert(served.nonEmpty, "served screen flagged nothing at sf0.01")
    served.foreach { case (doc, (hits, bestSim)) =>
      val ex = exact.get(doc)
      assert(ex.isDefined, s"doc $doc flagged by served but not exact")
      assert(hits <= ex.get._1,
        s"doc $doc: served hit count $hits > exact ${ex.get._1}")
      assert(bestSim <= ex.get._2,
        s"doc $doc: served best_sim $bestSim > exact ${ex.get._2}")
    }
  }

  test("p137 is p110 with ONLY the semantic row swapped") {
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      val exact = Pipeline.queries("p110_health_report")(spark, Sf01)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val served = Pipeline.queries("p137_health_report_ivf")(spark, Sf01)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(served.keySet == exact.keySet)
      (served.keySet - "semantic_contam_docs").foreach { check =>
        assert(served(check) == exact(check),
          s"$check diverged between p110 and p137")
      }
      assert(served("semantic_contam_docs") <= exact("semantic_contam_docs"),
        "served screen flagged more docs than the exact one")
    } finally spark.conf.unset("graft.artifacts.reuse")
  }

  test("p136 plans a cell-keyed equi-join, never a corpus cross") {
    spark.conf.set("graft.stage.materialize", "none")
    spark.conf.set("graft.artifacts.reuse", "false")
    try {
      val p = Pipeline.queries("p136_semantic_decontam_ivf")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"p136 plans a cartesian:\n$p")
      // r18: the work-scaled exchange width (PipelineVectors.workWidth)
      // legitimately plans the IVF spread as ONE partition at this
      // fixture's tiny N·K (Catalyst folds repartition(1, col) to
      // SinglePartition) — it returns to cluster width as ops grow. The
      // scale guard this assertion exists for is a REQUIRED-distribution
      // funnel (a global window/sort over the corpus), which plans as an
      // ENSURE_REQUIREMENTS SinglePartition exchange; ban exactly that.
      assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"p136 funnels through one required partition:\n$p")
      // the train×eval scoring join must be keyed on the cell — under
      // stage=none the assignment subtree is visible and the join shows
      // as hash/sort-merge on cell (broadcast-hash when eval is small),
      // NEVER the p126 nested-loop cross (that shape is exact-only)
      assert(p.contains("cell"), s"p136 lost its cell key:\n$p")
    } finally {
      spark.conf.unset("graft.stage.materialize")
      spark.conf.unset("graft.artifacts.reuse")
    }
  }

  test("multi-probe widens the served screen monotonically, stays " +
      "inside the exact flags, and clears the measured recall floor") {
    // graft.tools.ServedRecall's r17 measurement (sf0.1): doc recall
    // 0.137 @ P=1, 0.493 @ P=8 — at τ=0.40 the coarse codebook carries
    // little locality, so the served screen is a dialable TREND
    // monitor, not a release gate. This pins (at sf0.01, with margin)
    // that the knob keeps working: each P's flags contain the previous
    // P's (the probe list is a prefix chain), every P stays hit-for-hit
    // inside p126, and P=8 catches a meaningfully larger fraction.
    def flags(probes: Int): Map[Long, Int] =
      Pipeline.servedSemanticScreen(probes)(spark, Sf01)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = Pipeline.queries("p126_semantic_decontam")(spark, Sf01)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byP = Seq(1, 2, 8).map(p => p -> flags(p))
    byP.sliding(2).foreach { case Seq((pLo, lo), (pHi, hi)) =>
      lo.foreach { case (doc, hits) =>
        assert(hi.contains(doc),
          s"doc $doc flagged at P=$pLo but lost at P=$pHi")
        assert(hi(doc) >= hits,
          s"doc $doc hit count shrank from P=$pLo to P=$pHi")
      }
    }
    byP.foreach { case (p, served) =>
      served.foreach { case (doc, hits) =>
        assert(exact.contains(doc) && hits <= exact(doc),
          s"P=$p invented flags beyond the exact screen for doc $doc")
      }
    }
    val (r1, r8) = (byP.head._2.size.toDouble / exact.size,
      byP.last._2.size.toDouble / exact.size)
    assert(r8 >= r1, "P=8 recall below P=1")
    assert(r8 >= 0.25,
      f"P=8 doc recall $r8%.3f fell below the measured floor band")
  }
}
