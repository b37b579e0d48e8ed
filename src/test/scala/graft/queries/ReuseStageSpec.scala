package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The staging switch (`graft.stage.materialize`, graft.Stage): both
  * modes must return the same rows for a query whose plan REUSES the
  * staged subtree — `none` recomputes what `local` cuts, never changes
  * answers. */
class ReuseStageSpec extends SparkSpec {

  // a pipeline query whose implementation stages a reused subtree
  // (p02's capped band table feeds both sides of the candidate join)
  private def run(): Set[Seq[Any]] =
    Pipeline.queries("p02_minhash_neardup")(spark, sf)
      .collect().map(_.toSeq).toSet

  test("all staging modes agree with the default") {
    val expect = run() // default: local
    spark.conf.set("graft.stage.materialize", "none")
    try assert(run() == expect, "mode=none diverged")
    finally spark.conf.unset("graft.stage.materialize")
  }

  // a query whose corpus-sized subtrees use the DISK-backed cut
  // (p112's duplicated-gram slice + p113's window table — the sf10
  // post-mortem sites)
  private def runDisk(): Set[Seq[Any]] =
    Pipeline.queries("p113_dup_run_lengths")(spark, sf)
      .collect().map(_.toSeq).toSet

  test("all staging modes agree through stagedDisk cuts") {
    val expect = runDisk() // default: local → DISK_ONLY localCheckpoint
    spark.conf.set("graft.stage.materialize", "none")
    try assert(runDisk() == expect, "mode=none diverged")
    finally spark.conf.unset("graft.stage.materialize")
  }

  test("stagedDisk local mode keeps blocks OFF the unified memory pool") {
    val df = graft.Stage.materializeDisk(
      Tables(spark, sf, "nation").select(col("n_nationkey")))
    // pin THE checkpointed RDD (the LogicalRDD the cut wraps) — scanning
    // all disk-only RDDs in the context would let leftover blocks from an
    // earlier test satisfy the assertion even if materializeDisk regressed
    val rddId = df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(rddId.isDefined, "stagedDisk did not cut the plan at a LogicalRDD")
    assert(df.count() == 25)
    val mine = spark.sparkContext.getRDDStorageInfo.filter(_.id == rddId.get)
    assert(mine.nonEmpty, s"RDD ${rddId.get} has no blocks after the action")
    val lvl = mine.head.storageLevel
    assert(lvl.useDisk && !lvl.useMemory && !lvl.useOffHeap,
      s"stagedDisk storage level is $lvl, not DISK_ONLY")
    // disk bytes present, memory bytes zero: the p112 starvation mechanism
    assert(mine.head.diskSize > 0L, "no bytes written to disk blocks")
    assert(mine.head.memSize == 0L,
      s"stagedDisk blocks occupy memory: ${mine.head.memSize}")
  }

  test("an unknown staging mode is rejected loudly") {
    // `persist` and `reliable` were modes once (cached blocks that
    // outlived the invocation; checkpoint files for executor loss
    // local[n] cannot have): a stale setting must fail, not fall back
    Seq("bogus", "persist", "reliable").foreach { mode =>
      spark.conf.set("graft.stage.materialize", mode)
      try {
        val nation = Tables(spark, sf, "nation")
        Seq(
          intercept[IllegalArgumentException](graft.Stage.materialize(nation)),
          intercept[IllegalArgumentException](
            graft.Stage.materializeDisk(nation))
        ).foreach(e =>
          assert(e.getMessage.contains("graft.stage.materialize"), mode))
      } finally spark.conf.unset("graft.stage.materialize")
    }
  }

  private def Tables = graft.Tables
}
