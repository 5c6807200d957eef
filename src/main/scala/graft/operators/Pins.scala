package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one pin primitive behind every eager multi-consumer checkpoint in
  * the operator library. Spark's own checkpoint decides where a pin
  * lives:
  *
  *  - no checkpoint dir on the context (the default, and what the bench
  *    runs): eager `localCheckpoint` at `storage` — executor-storage
  *    blocks, no extra I/O path, right for single-node sessions and
  *    short-lived jobs, but the truncated lineage means ONE executor loss
  *    kills every query still reading the pin;
  *  - `sparkContext.setCheckpointDir(dir)` called: eager reliable
  *    `checkpoint` under `dir` — recomputable from disk, survives
  *    executor churn. [[graft.GraftSession.builder]] turns on
  *    `spark.cleaner.referenceTracking.cleanCheckpoints`, so a pin's
  *    files are deleted once its frame is garbage-collected.
  */
object Pins {
  def pin(df: DataFrame,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true, storage)
}
