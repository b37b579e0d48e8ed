package graft.tools

import org.apache.spark.sql.functions._

import graft.Session
import graft.queries.Pipeline

/** Prices the IVF-served semantic screen's miss rate (VERDICT r16
  * item 4): p136 trades recall for a cheaper at-cadence screen, and a
  * monitor posture without a measured miss rate is a number nobody can
  * act on. For each probe count P it reports, at a given rung:
  *   - doc-level recall: fraction of p126's flagged TRAIN DOCS that
  *     the served screen also flags (the unit the health report
  *     alarms on), and
  *   - pair-level recall: fraction of p126's flagged (doc, eval) hits
  *     the served screen retains (n_eval_hits mass).
  * The intersection is computed by an actual join (not assumed from
  * the ServedScreenSpec containment proof), so a containment
  * regression would show up here as inter < served. Each P is passed
  * straight to the screen (`Pipeline.servedSemanticScreen`); no session
  * state is touched.
  *
  *   sbt "runMain graft.tools.ServedRecall <sfDir> [probesCsv]"
  */
object ServedRecall {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServedRecall <sfDir> [probesCsv]")
    val sfDir = args(0)
    val probeList = args.lift(1).getOrElse("1,2,4,8,16")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Session.local()
    val exact =
      Pipeline.queries("p126_semantic_decontam")(spark, sfDir).cache()
    val nExact = exact.count()
    val pairsExact = exact.agg(sum("n_eval_hits")).head.getLong(0)
    println(f"== served-screen recall @ $sfDir " +
      f"(exact: $nExact docs, $pairsExact pair hits) ==")
    probeList.foreach { p =>
      val served = Pipeline.servedSemanticScreen(p)(spark, sfDir).cache()
      val nServed = served.count()
      val inter = served.select("doc_id")
        .join(exact.select("doc_id"), "doc_id").count()
      val pairsServed = served.agg(sum("n_eval_hits")).head.getLong(0)
      println(f"P=$p%-3d served $nServed%6d docs ($inter%d in exact) " +
        f"doc recall ${
          if (nExact == 0) 1.0 else inter.toDouble / nExact}%.4f, " +
        f"pair recall ${
          if (pairsExact == 0) 1.0
          else pairsServed.toDouble / pairsExact}%.4f")
      served.unpersist()
    }
    spark.stop()
  }
}
