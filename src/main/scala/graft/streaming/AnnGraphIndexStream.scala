package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.analytics.AnnGraphIndex

/** Streaming maintenance of the persisted GRAPH-ANN index — the third
  * member of the index-maintenance family ([[DedupIndexStream]],
  * [[AnnIndexStream]], [[LexIndexStream]]): embeddings arriving on a
  * stream are inserted by search ([[AnnGraphIndex.extend]] — the batch
  * serves as its own query set, edges append in both directions), so
  * graph serving reaches fresh vectors within one micro-batch with no
  * rebuild.
  *
  * Same idempotence discipline as [[AnnIndexStream]]: the append is
  * guarded by a batchId commit marker (replay of a committed batch is a
  * no-op); a crash between append and marker can duplicate edge/vector
  * rows — harmless, because the serving hop-loop dedups
  * (query, neighbor) before every rank, so a duplicated row can never
  * occupy two beam slots. Graph-quality renormalization (old nodes'
  * degree grows as batches accrue) is a deliberate batch rebuild +
  * [[AnnGraphIndex.swapIn]], the usual index-maintenance split. */
object AnnGraphIndexStream {

  case class VecArrival(vec_id: Long, v: Seq[Double])

  /** One micro-batch: insert-by-search, append both directions, mark (the
    * batch marker in `markerDir` — [[CommitLog]]). */
  def processBatch(spark: SparkSession, name: String, batch: DataFrame,
      batchId: Long, markerDir: String): Unit = {
    val log = new CommitLog(spark, markerDir)
    if (log.committed(batchId)) return
    AnnGraphIndex.extend(batch.select(col("vec_id"), col("v")), name)
    log.commit(batchId)
  }

  /** The standing query: wire to `.option("checkpointLocation", …).start()`. */
  def run(vecs: Dataset[VecArrival], name: String,
      markerDir: String): DataStreamWriter[VecArrival] =
    vecs.writeStream.foreachBatch { (batch: Dataset[VecArrival], batchId: Long) =>
      processBatch(batch.sparkSession, name, batch.toDF(), batchId, markerDir)
    }
}
