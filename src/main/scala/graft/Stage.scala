package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization of REUSED subtrees (LSH band tables, fingerprints,
  * capped candidate sets, …): one place deciding HOW a stage is cut, so
  * deployments can trade speed against failure recovery without touching
  * query code. Selected by `graft.stage.materialize`:
  *
  *  - `local` (default): `localCheckpoint` — blocks pinned to executor
  *    storage, lineage truncated. Fastest, and the right call on
  *    local[n] or interactive clusters; the documented caveat is that a
  *    LOST EXECUTOR kills the job (no lineage left to recompute from).
  *  - `reliable`: `checkpoint` to the Spark checkpoint directory
  *    (defaulted under java.io.tmpdir if unset — point it at
  *    HDFS/object storage via `SparkContext.setCheckpointDir` on a real
  *    cluster). Survives executor loss; costs a filesystem write, plus
  *    Spark's lazy-checkpoint recompute of the subtree on first action.
  *  - `none`: pass-through; the subtree recomputes at every reuse
  *    (correct, shuffle-heavy — for measuring what staging saves).
  *
  * Any other value is rejected with an IllegalArgumentException. There
  * is no cache-backed mode: cached blocks outlive the invocation, which
  * would reuse results across invocations outside
  * `graft.artifacts.reuse`. All modes return the same rows;
  * ReuseStageSpec pins that. */
object Stage {

  implicit class StageOps(private val df: DataFrame) extends AnyVal {
    /** Cut the plan here per the session's staging mode. */
    def staged: DataFrame = Stage.materialize(df)

    /** Cut the plan here with DISK-backed block storage — for
      * CORPUS-SIZED reused subtrees (gram/token censuses, full pair
      * frames). `staged`'s default `local` mode holds blocks in unified
      * memory, where `spark.memory.storageFraction` of the pool is
      * unevictable: a multi-GB staged census squeezes every concurrent
      * aggregation task into a sliver of execution memory, and at sf10
      * that starved a 32-way hash aggregate to death
      * (UNABLE_TO_ACQUIRE_MEMORY) — the p112 post-mortem. Disk blocks
      * cost one write + streamed reads and take ZERO unified memory,
      * which is the right trade exactly when the frame is too big to
      * want in memory anyway. Small bounded frames (band tables, capped
      * candidates, threshold grids) should keep using `staged`. */
    def stagedDisk: DataFrame = Stage.materializeDisk(df)
  }

  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.stage.materialize", "local") match {
      case "local" => df.localCheckpoint(eager = false)
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            s"${System.getProperty("java.io.tmpdir")}/graft-checkpoint")
        df.checkpoint(eager = false)
      case "none" => df
      case other => throw new IllegalArgumentException(
        s"graft.stage.materialize must be one of local|reliable|none," +
          s" got '$other'")
    }
  }

  /** [[StageOps.stagedDisk]]: same mode switch, disk-backed levels.
    * `local` keeps localCheckpoint's lineage-truncation semantics (and
    * its lost-executor caveat) but stores the blocks DISK_ONLY.
    * `reliable` and `none` are unchanged — a reliable checkpoint is
    * already a filesystem write. */
  def materializeDisk(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.stage.materialize", "local") match {
      case "local" =>
        df.localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
      case _ => materialize(df)
    }
  }
}
