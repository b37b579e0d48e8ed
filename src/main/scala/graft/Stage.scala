package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization of REUSED subtrees (LSH band tables, fingerprints,
  * capped candidate sets, …): one place deciding HOW a stage is cut.
  * Selected by `graft.stage.materialize`:
  *
  *  - `local` (default): `localCheckpoint` — blocks pinned to executor
  *    storage, lineage truncated. The engine runs `local[n]`, where a
  *    lost executor is a lost driver, so lineage buys no recovery.
  *  - `none`: pass-through; the subtree recomputes at every reuse
  *    (correct, shuffle-heavy — for plan inspection and for measuring
  *    what staging saves).
  *
  * Any other value is rejected with an IllegalArgumentException. There
  * is no cache-backed mode: cached blocks outlive the invocation, which
  * would reuse results across invocations outside
  * `graft.artifacts.reuse`. Both modes return the same rows;
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

  def materialize(df: DataFrame): DataFrame =
    if (cuts(df)) df.localCheckpoint(eager = false) else df

  /** [[StageOps.stagedDisk]]: same mode switch; `local` keeps
    * localCheckpoint's lineage truncation but stores the blocks
    * DISK_ONLY. */
  def materializeDisk(df: DataFrame): DataFrame =
    if (cuts(df)) df.localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
    else df

  /** `local` cuts the plan, `none` passes it through. */
  private def cuts(df: DataFrame): Boolean =
    df.sparkSession.conf.get("graft.stage.materialize", "local") match {
      case "local" => true
      case "none" => false
      case other => throw new IllegalArgumentException(
        s"graft.stage.materialize must be one of local|none, got '$other'")
    }
}
