package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The batch commit markers of the extend loops ([[DedupIndexStream]],
  * [[LexIndexStream]], [[AnnIndexStream]], [[AnnGraphIndexStream]],
  * [[ShardUpsertStream]]): an empty file `dir/b=<batchId>` written AFTER a
  * micro-batch's state-changing work makes a replay of that batch a no-op,
  * and `dir/b=<batchId>.<step>` guards one step of a batch that must land
  * each of its appends exactly once (LexIndexStream passes [[step]] as the
  * guard of [[graft.analytics.LexIndex.extend]]'s three appends). A
  * crash between the work and its marker replays the work, so each caller
  * states what a replayed step costs it. */
final class CommitLog(spark: SparkSession, dir: String) {

  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(batchId: Long, suffix: String = ""): Path =
    new Path(s"$dir/b=$batchId$suffix")

  /** Has `batchId` committed (its batch marker exists)? */
  def committed(batchId: Long): Boolean = fs.exists(marker(batchId))

  /** Mark `batchId` committed. */
  def commit(batchId: Long): Unit = fs.create(marker(batchId), true).close()

  /** Run `body` unless step `name` of `batchId` has already committed,
    * then mark the step. */
  def step(batchId: Long, name: String)(body: => Unit): Unit = {
    val m = marker(batchId, s".$name")
    if (!fs.exists(m)) { body; fs.create(m, true).close() }
  }
}
