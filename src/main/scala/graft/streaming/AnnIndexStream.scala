package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.analytics.AnnIndex

/** Streaming maintenance of the persisted ANN index — the retrieval-side
  * twin of [[DedupIndexStream]]: embeddings arriving on a stream (fresh
  * documents leaving the encoder) are assigned with the STORED quantizer
  * and appended into the partitioned cells layout, so retrieval sees new
  * vectors within one micro-batch without retraining or rebuilding.
  *
  * Same idempotence discipline as [[DedupIndexStream]]: the append is
  * guarded by a batchId commit marker (replay of a committed batch is a
  * no-op); a crash between append and marker can duplicate index rows —
  * harmless, because [[AnnIndex.topKAgainst]] dedups its candidate set on
  * (query_id, neighbor_id) before ranking, so a duplicated vector can
  * never occupy two top-k slots. Quantizer refresh (centroid drift as the
  * corpus shifts) is a deliberate batch [[AnnIndex.build]], the usual
  * index-maintenance split.
  */
object AnnIndexStream {

  case class VecArrival(vec_id: Long, v: Seq[Double])

  /** One micro-batch: [[AnnIndex.extend]] (assign with the stored
    * quantizer, append, report the touched cells), then mark (the batch
    * marker in `markerDir` — [[CommitLog]]).
    *
    * `compactEvery` > 0 folds the maintenance loop's OTHER half in: every
    * Nth batch, after its extend commits, the cells THIS batch touched are
    * [[AnnIndex.compact]]ed back to one file each (an in-layout rewrite of
    * exactly those cells — untouched cells never rewritten), so a standing stream
    * cannot accrete the N-files-per-probe small-file pathology
    * indefinitely. The touched cells are the set [[AnnIndex.extend]]
    * observed inside its append job — at most one id per centroid.
    * Compaction carries no marker of its own: it is answer-preserving and
    * idempotent, so a crash-replay that re-compacts is harmless (the
    * extend marker still guards the state-changing append).
    *
    * `targetedEvery` > 0 instead drives the cadence by MEASURED layout
    * ([[AnnIndex.compactOverThreshold]] at `fileThreshold` files/cell,
    * the [[DedupIndexStream]] discipline): touched-cid scoping rewrites
    * every cell this batch touched even at 2 files, while the threshold
    * mode reads the per-cell file counts from `_metadata` provenance and
    * rewrites only cells that actually accreted — the right verb when
    * batches spray a few vectors over many cells. A batch where both
    * cadences fire runs only the touched-cid pass (its scope is a strict
    * superset of this batch's contribution and it purges tombstones for
    * the touched cells). */
  def processBatch(spark: SparkSession, name: String, batch: DataFrame,
      batchId: Long, markerDir: String, compactEvery: Int = 0,
      targetedEvery: Int = 0, fileThreshold: Int = 4): Unit = {
    val log = new CommitLog(spark, markerDir)
    if (log.committed(batchId)) return
    val touched = AnnIndex.extend(batch.select(col("vec_id"), col("v")), name)
    log.commit(batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      if (touched.nonEmpty) AnnIndex.compact(spark, name, Some(touched))
    } else if (targetedEvery > 0 && (batchId + 1) % targetedEvery == 0)
      AnnIndex.compactOverThreshold(spark, name, fileThreshold)
  }

  /** The standing query: wire to `.option("checkpointLocation", …).start()`. */
  def run(vecs: Dataset[VecArrival], name: String, markerDir: String,
      compactEvery: Int = 0, targetedEvery: Int = 0,
      fileThreshold: Int = 4): DataStreamWriter[VecArrival] =
    vecs.writeStream.foreachBatch { (batch: Dataset[VecArrival], batchId: Long) =>
      processBatch(batch.sparkSession, name, batch.toDF(), batchId, markerDir,
        compactEvery, targetedEvery, fileThreshold)
    }
}
