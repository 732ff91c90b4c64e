package graft.functions

import org.apache.spark.sql.DataFrame

/** One task for an input that costs less than one file open.
  *
  * Spark sizes a frame's parallelism by its source, not by its bytes: a
  * few-KB view still plans one task per core, a shuffle exchange (two jobs
  * under AQE) for each aggregate or window, and a writer that leaves one
  * file per task. When the frame's optimized-plan size estimate is at most
  * `spark.sql.files.openCostInBytes` — the cost Spark itself charges for
  * opening one more file — a single task does the whole of it cheaper:
  * `coalesce(1)` makes the output `SinglePartition`, which satisfies every
  * clustered distribution, so `EnsureRequirements` plans no exchange, and a
  * write lands as one file. Larger frames pass through unchanged. The
  * estimate is the optimizer's: after partition pruning for a partitioned
  * scan, the whole relation otherwise, so the rule errs towards the
  * parallel plan.
  */
object SmallInput {

  /** `df` in one partition when its size estimate is at most one file
    * open, else `df` itself. */
  def narrowed(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.filesOpenCostInBytes) df.coalesce(1)
    else df
}
