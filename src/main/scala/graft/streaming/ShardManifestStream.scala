package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.analytics.Sampling

/** Streaming maintenance of the q186 training-shard manifest: as documents
  * arrive, the per-shard (n_docs, n_tokens, checksum) triple stays current
  * WITHOUT rescanning the corpus. Every component of the manifest is a
  * commutative, associative sum — counts in Long, the content checksum in
  * exact DECIMAL(38,0) ([[Sampling.manifestRaw]]) — so merging a batch's
  * manifest into the stored one is bit-identical to recomputing over the
  * full corpus, and ShardManifestSpec (StreamingSpec) pins that equality
  * across multi-batch runs.
  *
  * Delivery: the [[ViewMaintenance]] batchId-versioned pattern — each batch
  * merges the latest version STRICTLY BEFORE its own batchId and overwrites
  * `v=<batchId>`, so a replayed batch (crash between write and commit)
  * redoes the same merge into the same directory: idempotent, exactly-once
  * manifest contents under at-least-once batch delivery.
  *
  * Scale posture: per batch the work is O(|batch|) + a merge against a
  * manifest of `nShards` rows — kilobytes. The stored manifest is tiny by
  * construction (one row per shard), so the "view side" of the merge never
  * needs bucketing; at 100 TB this loop's cost is the batch scan, full stop.
  */
object ShardManifestStream {

  val ManifestSchema: StructType = StructType(Seq(
    StructField("shard_id", LongType),
    StructField("n_docs", LongType),
    StructField("n_tokens", LongType),
    StructField("checksum", DecimalType(38, 0))))

  /** Latest committed manifest version with id < beforeBatch (empty when
    * none) — replay safety: a batch never reads its own partial output. */
  def latestManifest(spark: SparkSession, manifestDir: String,
      beforeBatch: Long): DataFrame =
    ViewMaintenance.latestVersion(spark, manifestDir, beforeBatch, ManifestSchema)

  /** Merge a batch of (doc_id, text) documents into the stored manifest:
    * the batch's own q186 aggregate, full-outer summed per shard. */
  def mergeBatch(prev: DataFrame, batch: DataFrame, nShards: Int): DataFrame = {
    val b = Sampling.manifestRaw(batch, nShards)
      .select(col("shard_id"), col("n_docs").as("b_docs"),
        col("n_tokens").as("b_tokens"), col("checksum").as("b_sum"))
    prev.join(b, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("b_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)) + coalesce(col("b_tokens"), lit(0L)))
          .as("n_tokens"),
        (coalesce(col("checksum"), expr("cast(0 as decimal(38,0))")) +
          coalesce(col("b_sum"), expr("cast(0 as decimal(38,0))")))
          .cast("decimal(38,0)").as("checksum"))
  }

  /** Start maintaining `manifestDir` from a stream of documents. Caller
    * picks the trigger and calls `.start()`. */
  def maintainManifest(docs: DataFrame, manifestDir: String,
      checkpoint: String, nShards: Int = 16): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val merged = mergeBatch(
          latestManifest(spark, manifestDir, batchId), batch, nShards)
        merged.coalesce(1).write.mode("overwrite")
          .parquet(s"$manifestDir/v=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
}
