package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Streaming twin of q137's incremental materialized-view maintenance: a
  * CDC stream of signed order events keeps the per-customer
  * (n_orders, total_spend) view current without ever rescanning a fact
  * table. Each micro-batch applies the q137 signed merge inside
  * `foreachBatch` and writes the result as a NEW view version keyed by
  * batchId:
  *
  *  - the merge reads the latest version STRICTLY BEFORE the current
  *    batchId, so a replayed batch (crash between write and commit)
  *    re-merges the same inputs and overwrites the same `v=<batchId>`
  *    directory — idempotent, exactly-once view contents under
  *    at-least-once batch delivery, the same batchId-keyed trick as
  *    [[IngestStream.toIdempotentBatchSink]];
  *  - money stays in DECIMAL end-to-end (exact, associative), so the
  *    maintained view is bitwise equal to a from-scratch recompute —
  *    StreamingSpec pins that equality across multi-batch runs including
  *    deletes that drain a key to zero.
  *
  * Scale posture: per batch the work is O(|batch|) + one join against the
  * stored view — on a cluster both sides bucket by the view key, making
  * the merge exchange-free on the view side; old versions are pruned by
  * retention (kept here: they are the view's time-travel history). */
object ViewMaintenance {

  val ViewSchema: StructType = StructType(Seq(
    StructField("o_custkey", LongType),
    StructField("n_orders", LongType),
    StructField("total_spend", DecimalType(38, 2))))

  /** Latest committed view version with id < beforeBatch (empty frame when
    * none) — replay safety: the in-flight batch never reads its own
    * partial output. */
  def latestView(spark: SparkSession, viewDir: String, beforeBatch: Long): DataFrame =
    latestVersion(spark, viewDir, beforeBatch, ViewSchema)

  /** The batchId-versioned read every maintained view here shares: the
    * newest `dir/v=<batch>` with batch < `beforeBatch`, read at `schema`
    * (an empty frame of `schema` when there is none). */
  private[streaming] def latestVersion(spark: SparkSession, dir: String,
      beforeBatch: Long, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v="))
        .map(_.stripPrefix("v=").toLong)
        .filter(_ < beforeBatch)
    if (versions.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(s"$dir/v=${versions.max}")
  }

  /** The q137 signed merge as a pure frame transform: `prev` is the stored
    * view, `batch` carries (op 'I'/'D', o_custkey, price DECIMAL). */
  def applyDelta(prev: DataFrame, batch: DataFrame): DataFrame = {
    val delta = batch.select(col("o_custkey"),
        when(col("op") === "I", lit(1L)).otherwise(lit(-1L)).as("dn"),
        when(col("op") === "I", col("price")).otherwise(-col("price")).as("dp"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("dn")).as("dn"), sum(col("dp")).as("dp"))
    prev.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("total_spend"), expr("cast(0 as decimal(38,2))")) +
          coalesce(col("dp"), expr("cast(0 as decimal(38,2))")))
          .cast("decimal(38,2)").as("total_spend"))
      .filter(col("n_orders") > 0)
  }

  /** Start maintaining `viewDir` from a CDC stream. Caller picks the
    * trigger and calls `.start()`. */
  def maintainView(cdc: DataFrame, viewDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    cdc.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val merged = applyDelta(latestView(spark, viewDir, batchId), batch)
        merged.write.mode("overwrite").parquet(s"$viewDir/v=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
}
