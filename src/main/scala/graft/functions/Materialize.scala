package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Lineage-cutting materialization with a cluster-durability toggle.
  *
  * Multi-branch pipelines (a shingle table feeding four plan branches) and
  * iterative algorithms (connected components) MUST cut lineage: Spark does
  * not share identical subtrees across branches, and iterative plans double
  * per round. The cheap way is `localCheckpoint()`, but its blocks live ONLY
  * on executors — on a real cluster, losing one executor after the
  * checkpoint kills the query (lineage is truncated, blocks are
  * irrecoverable). That's acceptable on local[N] (executor == driver) and
  * fatal on a 1000-executor job.
  *
  * Toggle: set `spark.graft.checkpoint.dir` to a reliable (HDFS/S3) path and
  * every materialization in the engine becomes a reliable `checkpoint()` —
  * recomputable from durable storage after any executor loss. Unset (the
  * local default), behavior is unchanged (`localCheckpoint`). See SCALING.md.
  */
object Materialize {

  /** Materialize `df` once, cutting lineage. Eager in both modes. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpoint.dir") match {
      case Some(dir) if dir.nonEmpty =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case _ => df.localCheckpoint()
    }
  }

  /** [[apply]] plus the materialized row count, observed inside the
    * materializing job: no job of its own. A `Dataset.count` of the
    * snapshot would add two (its aggregate's exchange runs as a separate
    * job under AQE). */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (snap, seen) = observed(df, count(lit(1)).as("n"))
    (snap, seen("n").asInstanceOf[Long])
  }

  /** [[apply]] plus named aggregates of the materialized rows, observed
    * inside the materializing job the same way ([[counted]] is the row
    * count alone). */
  def observed(df: DataFrame, agg: Column, aggs: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val snap = apply(df.observe(obs, agg, aggs: _*))
    (snap, obs.get)
  }
}
