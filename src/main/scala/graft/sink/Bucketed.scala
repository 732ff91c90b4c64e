package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed table layout for co-located joins (100 TB posture).
  *
  * A fact⋈fact join (e.g. lineitem ⋈ orders on the order key) shuffles BOTH
  * sides every query. Writing each side bucketed by the join key — same
  * bucket count — makes the join a per-bucket zip with NO exchange on either
  * side: Spark's physical planner recognizes matching
  * `HashPartitioning(key, n)` output partitioning from bucketed scans. At
  * warehouse scale this turns the dominant recurring shuffle (terabytes per
  * query) into a one-time layout cost at ingest.
  *
  * Bucketing requires the table catalog (`saveAsTable`); a Hive metastore is
  * not needed — Spark's built-in in-memory/derby catalog suffices.
  */
object Bucketed {

  /** Bucket-count auto-sizing — the [[graft.analytics.DedupIndex]]
    * `derivedParts` discipline applied to the bucketed families: target
    * ≤ `spark.graft.rows.per.bucket` rows per bucket (default 1M — a few
    * hundred MB for the widest rows here, one task's comfortable write),
    * clamped to [1, 4096]. There is no floor beyond one bucket: every
    * bucket costs each append and each compaction a writer task and a
    * file, and each scan a file open, so a width above what the rows call
    * for is pure per-file overhead on a table one task reads. The ceiling
    * bounds the per-file fan-out of a warehouse-scale table. The input is
    * a count of an already-materialized frame — no extra source scan.
    * Probes and appends read the width from the catalog ([[bucketsOf]]),
    * so a derived build changes nothing downstream; a full rewrite
    * ([[compactBucketed]], [[grownBuckets]]) re-applies the rule to the
    * table's live rows and only ever widens, so an index built small
    * does not stay at one bucket as a stream grows it. */
  def derivedBuckets(spark: SparkSession, rows: Long): Int = {
    val target = spark.conf.getOption("spark.graft.rows.per.bucket")
      .map(_.toLong).getOrElse(1L << 20)
    math.max(1L, math.min(4096L, (rows + target - 1) / target)).toInt
  }

  /** The stored bucket width of a bucketed table (its catalog
    * `bucketSpec`). */
  def bucketsOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.getOrElse(sys.error(s"$table is not a bucketed table"))
      .numBuckets

  /** The width a full rewrite of `table` writes at, given the `rows` it
    * is about to write: the stored width, widened when [[derivedBuckets]]
    * of the live rows exceeds it. Never narrower than the stored width —
    * a one-file-per-bucket rewrite has already saved what a narrower
    * width would. */
  def grownBuckets(spark: SparkSession, table: String, rows: Long): Int =
    math.max(bucketsOf(spark, table), derivedBuckets(spark, rows))

  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int = 32): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    ManagedPaths.clearStale(spark, table)
    // align tasks with the bucket grid (same Murmur3 — the
    // [[compactBucketed]] trick) so the build writes exactly ONE file per
    // bucket: a bucketed write does NOT shuffle on its own, so a
    // many-task input writes one file per (task, bucket) and every later
    // scan pays the multiplied open cost. One file per bucket is
    // right-sized by construction when the width is derived
    // ([[derivedBuckets]] targets one task's comfortable rows per
    // bucket). */
    df.repartition(buckets, col(key)).write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append `df` into the existing bucketed `table` at its stored width
    * ([[bucketsOf]]), grid-aligned the [[writeBucketed]] way: task i holds
    * exactly bucket i, so an append writes ONE file per touched bucket
    * whatever the batch's shuffle width (a bucketed write does not shuffle
    * on its own, and a wide batch would otherwise leave one file per
    * (task, bucket) for the next compaction to pay down). */
  def appendBucketed(df: DataFrame, table: String, key: String): Unit = {
    import org.apache.spark.sql.functions.col
    val n = bucketsOf(df.sparkSession, table)
    df.repartition(n, col(key)).write.mode("append")
      .bucketBy(n, key).sortBy(key).format("parquet").saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — plans with zero
    * Exchange nodes (verify with `.explain`). */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  private[graft] def stagingOf(table: String): String = table + "__staging"

  /** If a previous [[replaceTable]] crashed between its DROP and RENAME,
    * the completed snapshot sits under the staging name and the live name
    * is gone — finish the swap. Called at the top of every replace so the
    * crash heals on the next maintenance pass. Returns true if it healed. */
  def healInterruptedReplace(spark: SparkSession, table: String): Boolean = {
    val staging = stagingOf(table)
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging)) {
      // [[completeReplacement]]'s sub-window can leave stale prior-session
      // files at the live default path (the DROP no-op'd on an in-memory
      // catalog but the explicit fs.delete hadn't run): a RENAME into a
      // non-empty destination can fail or nest the moved directory. Clear
      // first — safe, the live table is known absent from the catalog
      // here (round-9 ADVICE).
      ManagedPaths.clearStale(spark, table)
      CrashPoints.reached("heal.cleared-live")
      renameInto(spark, staging, table)
      CrashPoints.reached("heal.renamed")
      true
    } else false
  }

  /** Crash-safe full-table replacement: `write` builds the new generation
    * under a STAGING name while the live table keeps serving, then the
    * swap is two catalog ops (DROP live, RENAME staging) — the pattern
    * [[TableSwap]] uses for whole-index generations, applied to a single
    * table. No window destroys the data: before the staging write
    * completes the live table is untouched; after it, a crash between the
    * two catalog ops leaves the complete snapshot under the staging name,
    * which [[healInterruptedReplace]] finishes on the next call. (The old
    * shape — drop, delete files, then write from a localCheckpoint
    * snapshot — permanently destroyed the table if the process died
    * mid-write; round-8 ADVICE.) */
  def replaceTable(spark: SparkSession, table: String,
      write: String => Unit): Unit = {
    stageReplacement(spark, table, write)
    completeReplacement(spark, table)
  }

  /** First half of [[replaceTable]]: build the new generation under the
    * staging name while the live table keeps serving. Callable on its own
    * when the swap must be deferred past other work (LexIndex stages the
    * rebased retention log before the generation's table renames and
    * flips it with [[completeReplacement]] after) — the staged table then
    * waits under exactly the name [[healInterruptedReplace]] covers. */
  def stageReplacement(spark: SparkSession, table: String,
      write: String => Unit): Unit = {
    healInterruptedReplace(spark, table)
    val staging = stagingOf(table)
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    ManagedPaths.clearStale(spark, staging)
    CrashPoints.reached("stage.cleared")
    write(staging)
    CrashPoints.reached("stage.written")
  }

  /** Second half of [[replaceTable]]: the two catalog ops. A crash in the
    * gap leaves the complete snapshot under the staging name, healed by
    * the next [[healInterruptedReplace]] (which every Tombstones accessor
    * runs, so even a table whose ABSENCE reads as a valid state — the
    * retention log — cannot silently lose its staged generation). */
  def completeReplacement(spark: SparkSession, table: String): Unit = {
    val staging = stagingOf(table)
    if (spark.catalog.tableExists(staging)) {
      val liveLoc = ManagedPaths.pathOf(spark, table)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      CrashPoints.reached("complete.dropped-live")
      val fs = liveLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(liveLoc)) fs.delete(liveLoc, true)
      CrashPoints.reached("complete.cleared-live")
      renameInto(spark, staging, table)
      CrashPoints.reached("complete.renamed")
    }
  }

  /** RENAME `staging` onto the absent live name. A managed-table rename
    * moves the directory, but the catalog keeps every partition's old
    * location (a partitioned table would then quietly scan zero rows), so
    * the staging partitions are first pointed at the paths the rename is
    * about to produce: a crash before the rename leaves them on a table
    * nothing reads until the heal repeats both steps, and after it the
    * live table is whole. */
  private def renameInto(spark: SparkSession, staging: String,
      table: String): Unit = {
    anchorPartitions(spark, staging, ManagedPaths.pathOf(spark, table))
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** Point every catalog partition of `table` at `<root>/<col=value>`;
    * a no-op for unpartitioned tables. O(#partitions) catalog metadata. */
  private[sink] def anchorPartitions(spark: SparkSession, table: String,
      root: org.apache.hadoop.fs.Path): Unit = {
    val cat = spark.sessionState.catalog
    val ti = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.getTableMetadata(ti).partitionColumnNames.nonEmpty) {
      val anchored = cat.listPartitions(ti).map { p =>
        val dir = p.spec.map { case (k, v) => s"$k=$v" }.mkString("/")
        p.copy(storage = p.storage.copy(
          locationUri = Some(new org.apache.hadoop.fs.Path(root, dir).toUri)))
      }
      if (anchored.nonEmpty) cat.alterPartitions(ti, anchored)
    }
  }

  /** Rewrite a bucketed table to exactly ONE file per bucket, preserving
    * the bucket spec — the small-file compaction every append-mode index
    * table eventually needs (each `extend`/micro-batch append leaves one
    * file per touched bucket). Shared by [[graft.analytics.DedupIndex]]
    * and [[graft.analytics.LexIndex]]. Runs through [[replaceTable]], so
    * a crash anywhere leaves either the old generation serving or the
    * complete new one recoverable — never neither.
    *
    * Snapshot FIRST, repartition AFTER: the table relation advertises
    * `HashPartitioning(key, n)` from its bucket spec, so a repartition over
    * the raw table scan is optimized away as redundant — while the physical
    * scan runs UNbucketed (file splits; "disabled by query planner"),
    * leaving partitions misaligned with bucket ids and the writer emitting
    * one file per (task, bucket) instead of one per bucket. The checkpoint
    * severs the bucketing claim, so the repartition survives and task i
    * holds exactly bucket i (repartition and the bucketed writer share
    * Murmur3 hashing). The bucket spec travels with the closing RENAME
    * (same property the generation swap relies on), so the pass is also
    * where the width GROWS: the snapshot's row count re-derives it
    * ([[grownBuckets]]), and the staging generation is written at the
    * wider width when the live rows call for one. It never shrinks. */
  def compactBucketed(spark: SparkSession, table: String, key: String,
      transform: DataFrame => DataFrame = identity): Unit = {
    healInterruptedReplace(spark, table)
    // `transform` lets the rewrite fold in answer-preserving maintenance the
    // caller already owes — the indexes pass their tombstone anti-join here,
    // making compaction the physical purge point (Tombstones' copy-on-write
    // half). It runs BEFORE the snapshot so the rewrite never materializes
    // rows it is about to drop.
    val (snap, rows) = graft.functions.Materialize.counted(transform(spark.table(table)))
    val n = grownBuckets(spark, table, rows)
    CrashPoints.reached("compact.snapshotted")
    replaceTable(spark, table, writeBucketed(snap, _, key, n))
  }

  // ==================================================================
  // PARTITIONED index tables — the layout behind dynamically
  // partition-pruned probes (the AnnIndex `_cells` pattern generalized):
  // a hash-derived partition column turns a broadcast probe batch into a
  // runtime partition filter on the scan, so a daily batch reads only the
  // slices its keys hash into instead of the whole 100 TB table.
  // ==================================================================

  /** Create (or replace) a hash-partitioned index table. `partCol` must
    * already be on `df` (derived from the probe key, e.g.
    * `pmod(xxhash64(key), parts)` — the SAME derivation the probe side
    * applies at query time); the modulus is stamped as the `graft.parts`
    * table property so probes and appends read it from the catalog
    * instead of trusting callers to agree ([[TableProps]]).
    *
    * Write width = ONE TASK PER SLICE (round-14: the wall of a dynamic
    * partitioned write is per-FILE task-side cost — parquet open/close,
    * task setup/commit — and `repartition(partCol)` at the session's
    * default shuffle width bunches dozens of slices into each task, which
    * writes their files SEQUENTIALLY; widening took a 1958-slice append
    * from 25.7 s to 6.5 s — OPTIMIZATION_r14.md and SCALING.md record the
    * AppendProbe measurement. NOT the job-commit renames — the v2
    * committer measured identical). `repartition(parts, partCol)` keeps
    * the one-file-per-slice layout and parallelizes the per-file cost; a
    * build populates ~every slice, so `parts` is the natural width. */
  def writePartitioned(df: DataFrame, table: String, partCol: String,
      parts: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    ManagedPaths.clearStale(spark, table)
    df.repartition(parts, col(partCol)).write.mode("overwrite")
      .format("parquet").partitionBy(partCol).saveAsTable(table)
    TableProps.set(spark, table, PartsProp -> parts.toString)
  }

  /** Per-partition physical file counts of a [[writePartitioned]] table
    * from `_metadata` provenance — the scan itself reports the layout, no
    * filesystem walk: (part, n_files, needs_compaction), the decision input
    * of [[compactOverThreshold]]. O(#partitions) driver metadata, the
    * cardinality a lakehouse OPTIMIZE planner holds. */
  def partitionedCompactionPlan(spark: SparkSession, table: String,
      partCol: String, threshold: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, countDistinct}
    spark.table(table)
      .select(col(partCol).as("part"), col("_metadata.file_path").as("fp"))
      .groupBy(col("part"))
      .agg(countDistinct(col("fp")).as("n_files"))
      .withColumn("needs_compaction", col("n_files") > threshold)
  }

  /** The stored partition modulus of a [[writePartitioned]] table. */
  def partsOf(spark: SparkSession, table: String): Int =
    TableProps.required(spark, table, PartsProp).toInt

  val PartsProp = "graft.parts"

  /** Append a batch into an existing partitioned index table, one file
    * per touched partition (`partCol` must already be derived with the
    * stored modulus — see [[partsOf]]).
    *
    * Width = one task per slice (see [[writePartitioned]] — the round-14
    * measured fix: the old session-width bunching serialized ~dozens of
    * per-file costs per task, 3.6/12/25 s at 256/1024/4096 parts for one
    * fixed batch, ~13 ms per slice, all of it task-side). A grid no wider
    * than the session's default parallelism writes at the stored modulus
    * directly — an untouched slice's task is empty and writes no file, so
    * sizing the write costs no job. A wider grid (a warehouse-scale batch
    * touches O(min(batch keys, parts)) slices) materializes the batch
    * once, counts its distinct slices for the width, and writes from the
    * snapshot. */
  def appendPartitioned(df: DataFrame, table: String, partCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val parts = partsOf(spark, table)
    val (in, width) =
      if (parts <= spark.sparkContext.defaultParallelism) (df, parts)
      else {
        val snap = graft.functions.Materialize(df)
        (snap, snap.select(col(partCol)).distinct().count().toInt.max(1))
      }
    in.repartition(width, col(partCol)).write.mode("append")
      .format("parquet").partitionBy(partCol).saveAsTable(table)
  }

  /** Partition-grid growth rule for a full [[compactPartitioned]] pass:
    * `width(liveRows)` derives the modulus the table's live row count
    * calls for, `derive(rows, parts)` re-derives the partition column at a
    * new modulus (the same derivation the table's probes apply). */
  final case class Regrid(width: Long => Int,
      derive: (DataFrame, Int) => DataFrame)

  /** In-layout compaction of a partitioned index table (the dedup
    * `_bands`/`_pfx` slices, the ANN `_cells`): snapshot
    * through Materialize (the read must not race its own overwrite),
    * rewrite every partition present in the snapshot to ONE file via
    * DYNAMIC partition overwrite (commits at job commit — all-or-nothing
    * from the sweep's point of view), then explicitly drop partitions the
    * `transform` EMPTIED (a partition whose every row was tombstoned
    * produces no snapshot rows, so the dynamic overwrite never touches it
    * and its at-rest bytes would survive the purge). Each step is
    * idempotent, so a crash anywhere replays into the same end state; no
    * rename is involved, so partition locations never strand.
    *
    * `regrid` (full passes only) GROWS the grid: when `width` of the
    * snapshot's row total exceeds the stored [[partsOf]], the table is
    * rewritten at the wider modulus through [[replaceTable]] instead —
    * every `graft.*` property rides the staging table with `graft.parts`
    * re-stamped, so the rename publishes layout and modulus together, and
    * a crash leaves either the old grid serving or the new one healable
    * (the rename anchors the partitions first — see [[renameInto]]).
    * The grid never shrinks (a narrower modulus saves nothing a one-file-
    * per-slice rewrite has not already saved). */
  def compactPartitioned(spark: SparkSession, table: String, partCol: String,
      transform: DataFrame => DataFrame = identity,
      only: Option[Seq[Long]] = None,
      regrid: Option[Regrid] = None): Unit = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit}
    require(only.isEmpty || regrid.isEmpty,
      "a slice-scoped compaction cannot re-grid the table")
    val t0 = spark.table(table)
    // `only` scopes the pass to chosen partition values (the AnnIndex
    // cid-scoping production shape: compact the slices today's ingest
    // touched, leave the other 99% of a 100 TB table unread) — static
    // partition pruning on the read, dynamic overwrite on the write, and
    // the emptied-partition drop below restricted to the SELECTED set
    // (an unselected partition is absent from the snapshot by
    // construction, not emptied).
    val t = only.map(vs => t0.filter(col(partCol).isin(vs: _*))).getOrElse(t0)
    // the materializing job observes the snapshot's row total (the
    // re-grid decision) and its distinct slices — the kept set for the
    // emptied-partition drop and the write width (one task per rewritten
    // slice — the round-14 fix, see [[writePartitioned]]; a
    // threshold-scoped pass stays exactly as wide as its selection) — no
    // job of its own
    val (snap0, seen) = graft.functions.Materialize.observed(
      transform(t).select(t0.columns.toIndexedSeq.map(col): _*),
      count(lit(1)).as("rows"), collect_set(col(partCol)).as("parts"))
    val kept = seen("parts").asInstanceOf[scala.collection.Seq[Any]]
      .map(_.toString).toSet
    val grown = regrid.map(r => r -> r.width(seen("rows").asInstanceOf[Long]))
      .filter { case (_, parts) => parts > partsOf(spark, table) }
    CrashPoints.reached("pcompact.snapshotted")
    grown match {
      case Some((r, parts)) =>
        val carried = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
          .properties.filter { case (k, _) => k.startsWith("graft.") && k != PartsProp }
        replaceTable(spark, table, { staging =>
          writePartitioned(r.derive(snap0.drop(partCol), parts),
            staging, partCol, parts)
          if (carried.nonEmpty) TableProps.set(spark, staging, carried.toSeq: _*)
        })
      case None =>
        rewriteInPlace(spark, table, partCol,
          snap0.repartition(kept.size.max(1), col(partCol)), kept, only)
    }
  }

  /** Targeted compaction DRIVER — the piece that turns
    * [[compactPartitioned]] into a standing maintenance policy: read
    * `table`'s [[partitionedCompactionPlan]], rewrite exactly the slices
    * whose file count exceeds `threshold` in ONE scoped pass (each its own
    * task; unselected slices are not even opened), and return the plan it
    * acted on as (part, n_files, needs_compaction). The plan is collected
    * BEFORE acting on it — its `_metadata` scan is lazy and would re-list
    * the rewritten layout. */
  def compactOverThreshold(spark: SparkSession, table: String,
      partCol: String, threshold: Int,
      transform: DataFrame => DataFrame): Seq[(Long, Long, Boolean)] = {
    val plan = partitionedCompactionPlan(spark, table, partCol, threshold)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val over = plan.collect { case (part, _, true) => part }
    if (over.nonEmpty)
      compactPartitioned(spark, table, partCol, transform, only = Some(over))
    plan
  }

  private def rewriteInPlace(spark: SparkSession, table: String,
      partCol: String, snap: DataFrame, kept: Set[String],
      only: Option[Seq[Long]]): Unit = {
    // conf-isolated dynamic overwrite: concurrent Par legs (DedupIndex
    // .compact fans _bands/_pfx through here while the forget gate fans
    // AnnIndex.compact) would race a session-level set/restore dance —
    // see DynamicOverwrite's scaladoc for the truncation window.
    DynamicOverwrite.insertInto(snap, table)
    CrashPoints.reached("pcompact.rewritten")
    val selected = only.map(_.map(_.toString).toSet)
    val cat = spark.sessionState.catalog
    val ti = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val emptied = cat.listPartitions(ti)
      .filter(p => selected.forall(_(p.spec(partCol))))
      .filterNot(p => kept(p.spec(partCol)))
    if (emptied.nonEmpty) {
      // catalog drop first, then the at-rest bytes (the in-memory catalog's
      // drop does not purge managed files); both idempotent under replay
      cat.dropPartitions(ti, emptied.map(_.spec), ignoreIfNotExists = true,
        purge = false, retainData = true)
      val root = new org.apache.hadoop.fs.Path(cat.getTableMetadata(ti).location)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { p =>
        val dir = new org.apache.hadoop.fs.Path(root,
          s"$partCol=${p.spec(partCol)}")
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }
    CrashPoints.reached("pcompact.dropped")
  }
}

