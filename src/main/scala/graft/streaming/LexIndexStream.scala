package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.analytics.LexIndex

/** Standing maintenance loop for the persisted inverted index — the
  * lexical member of the index-maintenance family (DedupIndexStream,
  * AnnIndexStream): every arriving micro-batch of documents extends the
  * BM25 index, so keyword retrieval serves today's crawl without a
  * rebuild.
  *
  * Exactly-once discipline, and why it's STRICTER here: the dedup index
  * tolerates at-least-once appends (duplicate rows can't duplicate its
  * distinct'd output pairs), but duplicated postings inflate tf, df, and
  * the stats totals — silently wrong BM25 scores. So a replayed batch must
  * append to each of the three tables exactly once:
  *
  *  1. the batch snapshots to `workDir/stage/b=<id>` in overwrite mode —
  *     a deterministic re-writable staging copy, so every replay derives
  *     the same postings, lengths and stats totals from the SAME rows;
  *  2. one [[LexIndex.extend]] over the stage, each of its three appends
  *     guarded by its own step marker ([[CommitLog.step]]) — a crash
  *     anywhere in the extend resumes at the un-markered tables, never
  *     re-appending a committed one;
  *  3. a final batch marker short-circuits fully-committed replays, and the
  *     stage is deleted after it lands (a crash between the two leaves one
  *     orphaned stage directory, which nothing reads).
  *
  * `compactEvery` > 0 runs [[LexIndex.compact]] after every Nth batch —
  * answer-preserving and idempotent, so it carries no marker. */
object LexIndexStream {

  case class DocArrival(doc_id: Long, text: String)

  /** One micro-batch — exposed for direct testing. */
  def processBatch(spark: SparkSession, name: String, batch: DataFrame,
      batchId: Long, workDir: String, compactEvery: Int = 0): Unit = {
    val log = new CommitLog(spark, s"$workDir/_committed")
    if (log.committed(batchId)) return
    val stage = new Path(s"$workDir/stage/b=$batchId")
    batch.select("doc_id", "text").write.mode("overwrite").parquet(stage.toString)
    LexIndex.extend(spark.read.parquet(stage.toString), name, log.step(batchId, _))
    log.commit(batchId)
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stage, true)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      LexIndex.compact(spark, name)
  }

  /** The standing query: wire to `.option("checkpointLocation", …).start()`.
    * The index at `name` must exist ([[LexIndex.build]], possibly on an
    * empty corpus) before the stream starts. */
  def run(docs: Dataset[DocArrival], name: String, workDir: String,
      compactEvery: Int = 0): DataStreamWriter[DocArrival] =
    docs.writeStream.foreachBatch { (batch: Dataset[DocArrival], batchId: Long) =>
      processBatch(batch.sparkSession, name, batch.toDF(), batchId,
        workDir, compactEvery)
    }
}
