package graft

import org.apache.spark.sql.DataFrame

/** The one lineage cut every operator takes: materializes `df` eagerly
  * and returns a frame whose plan starts at the materialized blocks, so
  * later plans never re-run its lineage.
  *
  * The mode follows the SparkContext's checkpoint dir — the rule MLlib's
  * `PeriodicCheckpointer` and ALS use:
  *  - no dir set: `localCheckpoint`. Blocks live on the executors: fast
  *    and right for local mode, but a lost executor loses its blocks and
  *    the next job that reads the cut fails.
  *  - dir set (Spark's `spark.checkpoint.dir`, or `setCheckpointDir`):
  *    `Dataset.checkpoint`. Every cut lands on that reliable filesystem
  *    (HDFS/object store on a cluster) and survives executor loss, for
  *    one extra filesystem write per cut. Spark keeps checkpoint files
  *    unless `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
  *    which deletes each one once its frame is garbage collected.
  *
  * Either mode returns the same rows; only where the cut lives differs.
  */
object Cut {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true)
}
