package graft.sink

import org.apache.spark.sql.SparkSession

/** Generation swap for multi-table persisted indexes: a rebuild writes its
  * tables under a STAGING name (hours of work, zero impact on the serving
  * index), then this rename makes the generation live — catalog ops plus a
  * filesystem rename, no data movement on HDFS-like stores (an object
  * store pays a copy; production there fronts the index with a view and
  * replaces the view, a single atomic catalog op). The two-op drop+rename
  * window per table is the same one the warehouse-scale form of
  * [[Bucketed.compactBucketed]] documents.
  *
  * Two catalog subtleties are handled here so every index family shares
  * them:
  *  - PARTITIONED tables (the ANN cells): renaming a managed table moves
  *    its directory but the catalog's partition entries keep their old
  *    locations — the next scan would quietly read zero rows. Every
  *    partition is re-anchored under the new root (O(#partitions)
  *    metadata, the compaction planner's cardinality).
  *  - BUCKETED tables (dedup sigs/bands, lex postings/dl): the bucket
  *    spec is table metadata and travels with the rename, so the
  *    exchange-free probe plans survive the swap (spec-pinned).
  *
  * Retention state survives the swap: deletion requests that arrived
  * AFTER the rebuild's corpus snapshot (a rebuild the scaladoc above
  * describes as hours of work) are NOT covered by the new generation's
  * tables, so the live tombstone log is kept — clearing it here would
  * silently resurrect those docs at the exact moment the new generation
  * goes live. Ids the rebuild did already exclude cost nothing (the
  * merge-on-read anti-join is a no-op for them) and the log retires at
  * the next purge-on-compact as usual; a staging-side log folds into the
  * live one ([[Tombstones.carryForward]]). */
object TableSwap {

  def swapIn(spark: SparkSession, staging: String, live: String,
      suffixes: Seq[String]): Unit = {
    // Heal BOTH generations' tables first, for every family at once: any
    // suffix table may be replaceTable-managed (a compact that died in
    // its DROP→RENAME gap leaves the snapshot under `__staging` and the
    // table reading as ABSENT), and the skip-if-done check below would
    // then skip that suffix and deploy a MIXED generation silently.
    // No-op for tables with no interrupted rename pending.
    for (suffix <- suffixes; gen <- Seq(staging, live))
      Bucketed.healInterruptedReplace(spark, gen + suffix)
    for (suffix <- suffixes) {
      val (s, l) = (staging + suffix, live + suffix)
      if (spark.catalog.tableExists(s)) {
        spark.sql(s"DROP TABLE IF EXISTS $l")
        CrashPoints.reached(s"swap.dropped$suffix")
        spark.sql(s"ALTER TABLE $s RENAME TO $l")
        CrashPoints.reached(s"swap.renamed$suffix")
        reanchorPartitions(spark, l)
        CrashPoints.reached(s"swap.reanchored$suffix")
      } else if (spark.catalog.tableExists(l)) {
        // Re-run after a crash in the RENAME→re-anchor seam: the staging
        // table is gone (renamed), so the skip-if-done branch above can't
        // fire — but the live table may still carry the pre-rename
        // partition locations, and a scan through them quietly reads zero
        // rows. Re-anchoring an already-consistent table is an idempotent
        // metadata no-op, so every re-run pays the O(#partitions) catalog
        // pass instead of trusting that the seam never crashed (round-10
        // ADVICE).
        reanchorPartitions(spark, l)
      }
    }
    Tombstones.carryForward(spark, staging, live)
  }

  /** See scaladoc: partition locations stranded by a managed-table rename
    * are re-anchored under the table's new root. */
  private def reanchorPartitions(spark: SparkSession, table: String): Unit =
    Bucketed.anchorPartitions(spark, table, ManagedPaths.pathOf(spark, table))
}
