package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.analytics.Sampling
import graft.functions.Materialize

/** The STANDING delivery-layer maintainer — CDC into the training shards:
  * each micro-batch carries document upserts (new or edited content) and
  * deletes, and the shard layout a data loader reads rolls forward
  * partition-by-partition ([[Sampling.upsertShards]]'s two legs), never as
  * a full rewrite.
  *
  * Idempotence: unlike the retention loop (whose applies all converge on
  * replay), the APPEND leg here adds rows — a replayed batch would
  * duplicate every incoming document. So this loop uses the extend-loop
  * discipline ([[CommitLog]]): a batchId commit marker written AFTER
  * the apply makes a fully-committed batch's replay a no-op. The remaining
  * crash window (apply done, marker not) is closed by the apply itself
  * being a two-leg idempotent-ENOUGH sequence under one retry: the delete
  * leg re-runs harmlessly (anti-join of already-absent ids, dynamic
  * overwrite rewrites the same partitions to the same content), and the
  * append leg is guarded per batch by first DELETING the batch's own
  * incoming doc_ids from the layout (they're in `gone` by construction —
  * see [[processBatch]]), so re-appending after a crash cannot duplicate:
  * the replayed delete leg scrubs the half-committed copies first. An
  * edit's old-content row and a replayed new-content row share a doc_id,
  * which is exactly what the scrub keys on.
  *
  * Per-batch cost: the delete leg scans only the affected partitions
  * (semi-join-scoped), the append leg writes only the partitions the new
  * content hashes into — O(batch + affected shards), never O(layout). */
object ShardUpsertStream {

  case class DocChange(doc_id: Long, text: String, deleted: Boolean)

  /** One micro-batch: upserts = rows with new content; deletes = rows with
    * `deleted`. The outgoing set is (deleted ids ∪ upserted ids) — an
    * upsert's old version must leave, and including the id even when no
    * old version exists is what makes the append leg replay-safe. */
  def processBatch(spark: SparkSession, table: String,
      batch: Dataset[DocChange], batchId: Long, stateDir: String,
      nShards: Int = 16): Unit = {
    val log = new CommitLog(spark, s"$stateDir/_committed")
    if (log.committed(batchId)) return // fully committed — replay is a no-op
    val b = Materialize(batch.toDF())
    val incoming = b.filter(!col("deleted"))
      .select(col("doc_id"), col("text"),
        Sampling.shardOf(col("text"), nShards).as("shard_id"))
    // outgoing shard of an id we don't know the old content of: every
    // shard the id could live in must be scrubbed — resolve old shards
    // from the layout itself (semi-join on doc_id, returning its actual
    // (doc_id, shard_id) pairs; absent ids contribute nothing)
    val ids = b.select(col("doc_id")).distinct()
    val gone = Materialize(spark.table(table)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("shard_id")).distinct())
    Sampling.upsertShards(spark, table, gone, incoming)
    log.commit(batchId)
  }

  /** The standing query: wire to `.option("checkpointLocation", …).start()`.
    * The shard table must exist (possibly empty) before the stream starts. */
  def run(changes: Dataset[DocChange], table: String, stateDir: String,
      nShards: Int = 16): DataStreamWriter[DocChange] =
    changes.writeStream.foreachBatch { (batch: Dataset[DocChange], batchId: Long) =>
      processBatch(batch.sparkSession, table, batch, batchId, stateDir, nShards)
    }
}
