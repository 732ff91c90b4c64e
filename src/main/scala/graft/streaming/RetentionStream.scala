package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.analytics.{AnnGraphIndex, AnnIndex, DedupIndex, LexIndex}

/** The STANDING deletion loop — what a GDPR/retention pipeline actually
  * runs: a stream of deletion requests fans out to every index the corpus
  * service maintains, each as an O(batch) tombstone append; the physical
  * purges ride the loop's own maintenance cadence.
  *
  * Idempotence WITHOUT commit markers: every apply in this loop converges
  * under replay by construction —
  *  - the tombstone appends dedupe against their own log
  *    ([[graft.sink.Tombstones.newIds]]), so re-delivering a batch (or a
  *    crash between the three index appends) re-applies nothing;
  *  - the lex stats correction is [[LexIndex.healStats]]: it RECONCILES
  *    the delta log with the tombstone log rather than deriving a delta
  *    from the request, so any crash prefix — ids appended but stats not
  *    yet corrected — heals on the next batch, to exact Long totals;
  *  - the purges are answer-preserving rewrites through the shared
  *    `graft.sink.Bucketed` compactions (the ANN purge rewrites exactly
  *    the cells holding deleted vectors, and drops a cell it empties),
  *    safe to re-run.
  * Contrast the extend loops (their [[CommitLog]] markers): extends ADD
  * information that a replay would double; deletes only move logs toward
  * a fixed point.
  *
  * The ANN leg takes vector ids; the caller maps doc deletions to vector
  * deletions with whatever id discipline links the two tables (here:
  * vec_id == doc_id, the testdata convention).
  */
object RetentionStream {

  case class DeleteRequest(doc_id: Long)

  /** One micro-batch: fan the request out to every maintained index
    * (graph-index leg optional — round 10 added the fourth surface; its
    * delete/compact obey the same fixed-point contract). Purge every
    * `purgeEvery` batches (0 = never — leave it to offline
    * maintenance). */
  def processBatch(spark: SparkSession, batch: Dataset[DeleteRequest],
      batchId: Long, dedupName: String, lexName: String, annName: String,
      purgeEvery: Int = 0, graphName: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val ids = batch.toDF()
    DedupIndex.delete(ids.select(col("doc_id")), dedupName)
    LexIndex.delete(ids.select(col("doc_id")), lexName)
    AnnIndex.delete(ids.select(col("doc_id").as("vec_id")), annName)
    graphName.foreach(g =>
      AnnGraphIndex.delete(ids.select(col("doc_id").as("vec_id")), g))
    if (purgeEvery > 0 && (batchId + 1) % purgeEvery == 0) {
      DedupIndex.compact(spark, dedupName)
      LexIndex.compact(spark, lexName)
      AnnIndex.purgeTombstones(spark, annName)
      graphName.foreach(g => AnnGraphIndex.compact(spark, g))
    }
  }

  /** The standing query: wire to `.option("checkpointLocation", …).start()`.
    * Every named index must exist before the stream starts. */
  def run(reqs: Dataset[DeleteRequest], dedupName: String, lexName: String,
      annName: String, purgeEvery: Int = 0,
      graphName: Option[String] = None): DataStreamWriter[DeleteRequest] =
    reqs.writeStream.foreachBatch { (batch: Dataset[DeleteRequest], batchId: Long) =>
      processBatch(batch.sparkSession, batch, batchId, dedupName, lexName,
        annName, purgeEvery, graphName)
    }
}
