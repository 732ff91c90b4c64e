package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.analytics.TextStats.wordShingles
import graft.functions.Materialize
import graft.sink.{Bucketed, TableProps, Tombstones}

/** Persisted MinHash near-dup INDEX + incremental new-batch dedup — the
  * production shape of corpus dedup at 100 TB: the corpus's signatures and
  * LSH band keys are written ONCE as bucketed tables, and each new ingest
  * batch (a day of crawl) is deduplicated against the whole corpus by
  * joining only its own band keys — no corpus re-signature, no corpus
  * self-join, no shuffle of the index side.
  *
  * Layout:
  *  - `<name>_sigs`  (doc_id, mhs)                 bucketed by doc_id
  *  - `<name>_bands` (doc_id, band, band_key, pb)  PARTITIONED by
  *    pb = pmod(xxhash64(band, band_key), parts) — the probe key's hash
  *    slice, so a batch's broadcast band keys become a DYNAMIC partition
  *    filter on the scan (the [[AnnIndex]] `_cells` pattern): the probe
  *    reads only the slices its keys hash into, O(batch keys) partitions
  *    out of `parts`, instead of the whole corpus-sized table per batch
  *    (round-11 VERDICT item 2 — the last linear-I/O cost on this path).
  *    `parts` is sized from the band rows ([[derivedParts]]): a slice is
  *    one task's comfortable read, so an index that fits one slice has
  *    ONE — every append and compaction then writes one file, not one per
  *    slice of a grid sized for a corpus it does not have — and [[compact]]
  *    widens the grid as the index grows.
  *
  * Query plan: every join in [[nearDupsAgainst]] broadcasts the BATCH side
  * (a daily batch is MBs against a corpus of TBs), so both index tables are
  * each read by exactly one exchange-free, partition-pruned scan; the only
  * shuffle in the whole job is the candidate-pair distinct, whose input is
  * band-collision pairs (bounded by true near-dups + LSH false positives),
  * not corpus rows. [[extend]] appends a processed batch into the same
  * layout, so the index grows with ingest instead of being rebuilt —
  * together the two calls are the standing dedup loop: dedup today's batch
  * against the index, keep the survivors, extend the index with them.
  */
object DedupIndex {

  private[analytics] def sigsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Dedup.minhashSignature(wordShingles(col("text"))).as("mhs"))

  /** Partition-column derivations — the SAME hash slice on the stored and
    * probe sides is what makes the broadcast probe a partition filter. */
  private def withPb(bands: DataFrame, parts: Int): DataFrame =
    bands.withColumn("pb",
      pmod(xxhash64(col("band"), col("band_key")), lit(parts.toLong)))
  private def withPs(pfx: DataFrame, parts: Int): DataFrame =
    pfx.withColumn("ps", pmod(xxhash64(col("s")), lit(parts.toLong)))

  /** Catalyst's PartitionPruning rule inserts a dynamic partition filter
    * only when the probe side carries a LIKELY-SELECTIVE predicate (a
    * literal comparison qualifies; bare IsNotNull does not). `pmod` is
    * non-negative by definition, so this filter is a semantic no-op whose
    * only job is to make the probe eligible — the actual selectivity is
    * the batch's key set, which IS selective against a corpus-sized
    * table. */
  private def dppEligible(probe: DataFrame, partCol: String): DataFrame =
    probe.filter(col(partCol) >= 0)

  /** Build (or rebuild) the index over a corpus of (doc_id, text).
    * `parts` sizes the band table's partition grid — the probe-pruning
    * granularity (a probe reads ≤ its distinct key-hash slices). ≤ 0
    * (the default) DERIVES it from the corpus at build time via
    * [[derivedParts]] — nothing should hand-size a knob the build can
    * measure, at either end of the scale; `buckets` ≤ 0 derives the
    * bucketed tables' width the same way ([[Bucketed.derivedBuckets]]).
    * `estThreshold` is the MinHash verify gate
    * [[nearDupsAgainst]] applies by default — persisted with the index so
    * two callers probing the same corpus get the same dedup semantics. */
  def build(docs: DataFrame, name: String, buckets: Int = -1,
      parts: Int = -1, estThreshold: Double = 0.5): Unit = {
    val (sigs, n) = Materialize.counted(sigsOf(docs))
    val (b, p) = widths(docs.sparkSession, n, buckets, parts)
    buildFromSigs(sigs, name, b, p, estThreshold)
  }

  /** The (buckets, parts) widths of a build over `n` signatures: a
    * positive argument is kept, one ≤ 0 is derived from `n`
    * ([[Bucketed.derivedBuckets]], [[derivedParts]]). The count comes from
    * the job that materialized the signatures ([[Materialize.counted]]). */
  private def widths(spark: SparkSession, n: Long, buckets: Int, parts: Int): (Int, Int) =
    (if (buckets > 0) buckets else Bucketed.derivedBuckets(spark, n),
      if (parts > 0) parts else derivedParts(spark, n * Dedup.NumBands))

  /** [[build]] from a precomputed signature frame at given widths — lets
    * the q212/q216 gate twins share ONE memoized signature pass where
    * independent-build semantics are not the thing under test (round-9
    * VERDICT item 4). */
  private[analytics] def buildFromSigs(sigs: DataFrame, name: String,
      buckets: Int, parts: Int, estThreshold: Double = 0.5): Unit = {
    import graft.functions.PhaseTimer.timed
    val spark = sigs.sparkSession
    // disjoint tables, both reading the materialized signature frame —
    // fan the two writes on driver threads (guide §2.6)
    graft.functions.Par.inParallel(Seq(
      () => timed("clubld.sigs.write")(
        Bucketed.writeBucketed(sigs, s"${name}_sigs", "doc_id", buckets)),
      () => timed("clubld.bands.write")(
        Bucketed.writePartitioned(withPb(Dedup.bandsOf(sigs), parts),
          s"${name}_bands", "pb", parts))))
    TableProps.set(spark, s"${name}_bands", EstProp -> estThreshold.toString)
    Tombstones.clear(spark, name) // a rebuild has nothing to forget
  }

  /** Partition-grid auto-sizing: ⌈rows / target⌉ slices for a target of
    * `spark.graft.dedup.rows.per.slice` rows per probe slice (default 4M ≈
    * a few hundred MB of band rows — one task's comfortable read),
    * clamped to [1, 32768]. There is no floor beyond one slice: every
    * slice costs each append and compaction a file, a task and a
    * partition directory, so a grid wider than the rows call for makes the
    * standing loop pay per-slice overhead for pruning a single task's read
    * does not need. The ceiling bounds catalog metadata. Build inputs are a
    * COUNT of the materialized signature frame × the band constant (the
    * `_pfx` table of a clustered build shares that modulus); [[compact]]
    * re-applies the rule to each partitioned table's live row count and
    * only ever widens. */
  private[graft] def derivedParts(spark: SparkSession, rows: Long): Int = {
    val target = spark.conf.getOption("spark.graft.dedup.rows.per.slice")
      .map(_.toLong).getOrElse(4L << 20)
    math.max(1L, math.min(32768L, (rows + target - 1) / target)).toInt
  }

  /** DELETE docs from the index — merge-on-read ([[graft.sink.Tombstones]]):
    * the request appends its ids to the log and touches neither index
    * table (a doc's band rows are scattered across every band bucket — a
    * physical rewrite per request is exactly the wrong cost at 100 TB).
    * [[nearDupsAgainst]] anti-joins the log from the next query on; the
    * physical purge rides the next [[compact]]. On a CLUSTERED index the
    * delete additionally repairs the persisted cluster map — a tombstone
    * filter alone is WRONG for cluster ids, because removing a doc can
    * split its component (it was the bridge) or orphan its label (it was
    * the minimum); see [[repairClusters]]. The repair's Jaccard threshold
    * is the one [[buildClustered]] persisted with the index — never a
    * caller parameter (round-11 ADVICE: a clustered index built at any
    * other threshold was silently repaired at 0.6). */
  def delete(ids: DataFrame, name: String): Unit = {
    val spark = ids.sparkSession
    Tombstones.append(ids.select(col("doc_id")), name, "doc_id")
    if (isClustered(spark, name))
      repairClusters(spark, name, storedThreshold(spark, name))
  }

  /** Deploy a rebuilt generation over the live name — the q217 pattern for
    * the bucketed family: the bucket spec is table metadata and travels
    * with the rename, so the exchange-free probe plans survive the swap
    * (RetentionSpec pins spec + answers). The cluster-map suffixes ride
    * the same swap when present. Deploying a NON-clustered staging build
    * over a clustered live index demotes it: the live cluster tables are
    * dropped here, because TableSwap skips absent staging suffixes and the
    * old cluster map would otherwise keep answering from the PREVIOUS
    * generation's corpus while `_sigs`/`_bands` serve the new one
    * (round-11 ADVICE — the footgun was documented but unenforced). */
  def swapIn(spark: SparkSession, staging: String, live: String): Unit = {
    healedClusterTables(spark, staging)
    healedClusterTables(spark, live)
    if (isClustered(spark, live) && !isClustered(spark, staging))
      ClusterSuffixes.foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS $live$s")
        graft.sink.ManagedPaths.clearStale(spark, live + s)
      }
    graft.sink.TableSwap.swapIn(spark, staging, live, Suffixes ++ ClusterSuffixes)
  }

  /** Append a new batch into the existing index — the bucket spec is read
    * from the catalog (whatever [[build]] chose), so the appended files
    * land in the established layout and every later [[nearDupsAgainst]]
    * sees old + new corpus through the same exchange-free scans. On a
    * CLUSTERED index ([[buildClustered]]) the batch also merges into the
    * persisted cluster map — see [[extendClusters]] — at the threshold
    * [[buildClustered]] persisted with the index, never a caller knob
    * (round-11 ADVICE: a clustered index built at any other threshold was
    * silently extended at 0.6, with batch prefixes inconsistent with the
    * stored `_pfx` rows and merges the build would never make). */
  def extend(docs: DataFrame, name: String): Unit =
    extendImpl(docs, None, name)

  /** [[extend]] from a precomputed (doc_id, w) shingle frame for the SAME
    * docs — the q228 gate's three lifecycle slices share one corpus scan
    * (each separate extend re-scans the full documents source just to
    * content-bucket-filter it). Semantics identical: `rawIn` must be
    * exactly what extend would have computed. */
  private[analytics] def extendImpl(docs: DataFrame, rawIn: Option[DataFrame],
      name: String): Unit = {
    val spark = docs.sparkSession
    healedTables(spark, name)
    // On a clustered index ONE shingling pass feeds both the signature leg
    // and the cluster leg (they consumed two separate wordShingles scans
    // before — round-11 VERDICT item 6); the plain index skips the extra
    // materialization of raw shingle arrays.
    import graft.functions.PhaseTimer.timed
    val raw = timed("ext.shingle") {
      if (isClustered(spark, name))
        Some(rawIn.getOrElse(Materialize(docs.select(col("doc_id"),
          wordShingles(col("text")).as("w")))))
      else None
    }
    val sigs = timed("ext.sigs")(Materialize(raw match {
      case Some(r) => r.select(col("doc_id"),
        Dedup.minhashSignature(col("w")).as("mhs"))
      case None => sigsOf(docs)
    }))
    // disjoint SURFACES — the two signature-family appends AND the whole
    // cluster-surface leg fan out on driver threads
    // ([[graft.functions.Par]]): the cluster leg reads/writes only
    // `_shg`/`_pfx`/`_clusters`/`_labelmap`, never `_sigs`/`_bands`, and
    // the relative order carries no crash contract (recovery for ANY torn
    // prefix is replaying the batch; duplicate index rows are tolerated by
    // every read path; extendClusters' own append-before-map-write
    // ordering is internal to its leg and preserved)
    timed("ext.append")(graft.functions.Par.inParallel(Seq(
      () => timed("ext.append.sigs") {
        Bucketed.appendBucketed(sigs, s"${name}_sigs", "doc_id")
        graft.sink.CrashPoints.reached("dedupext.sigs")
      },
      () => timed("ext.append.bands") {
        Bucketed.appendPartitioned(
          withPb(Dedup.bandsOf(sigs), Bucketed.partsOf(spark, s"${name}_bands")),
          s"${name}_bands", "pb")
        graft.sink.CrashPoints.reached("dedupext.bands")
      }) ++ raw.toSeq.map(r => () =>
        extendClusters(docs, r, name, storedThreshold(spark, name)))))
  }

  /** Heal any interrupted staging-rename before reading or appending —
    * the [[graft.analytics.LexIndex]] discipline applied to this family's
    * two tables (a compact crashed in its DROP→RENAME gap must not make
    * the next probe throw, or the next extend create-and-orphan). */
  private def healedTables(spark: SparkSession, name: String): Unit =
    Suffixes.foreach(s => Bucketed.healInterruptedReplace(spark, name + s))

  /** The signature-family tables (the cluster surface's are
    * [[ClusterSuffixes]]). */
  private val Suffixes = Seq("_sigs", "_bands")

  /** Compaction for the index tables: every [[extend]] (and every
    * DedupIndexStream micro-batch) appends one file per touched bucket or
    * slice, so after N extends each index scan opens N files per bucket.
    * Rewrites each
    * bucketed table to ONE file per bucket under the same spec via
    * [[Bucketed.compactBucketed]] (the snapshot-before-repartition trap
    * and the warehouse-scale swap story live there), and each partitioned
    * table (`_bands`, `_pfx`) to one file per slice via
    * [[Bucketed.compactPartitioned]]. Because this pass reads every row
    * anyway, it is also where the slice grid GROWS: each partitioned
    * table's live row count re-derives its width ([[derivedParts]]), and
    * a width above the stored `graft.parts` re-grids the table through
    * the crash-safe [[Bucketed.replaceTable]] with `graft.parts` (and, on
    * `_bands`, `graft.est.threshold`) re-stamped before the rename — so an
    * index built small does not stay under-sliced as the stream grows it.
    * The bucketed tables grow the same way: each rewrite re-derives its
    * width from its live rows ([[Bucketed.grownBuckets]]). Neither the
    * grid nor a width ever shrinks. DedupIndexSpec pins answers-unchanged,
    * file-count collapse, preserved bucket spec and the growth path. */
  def compact(spark: SparkSession, name: String): Unit = {
    healedTables(spark, name)
    // the physical purge point: the rewrite drops tombstoned rows from
    // every table, then the log resets — answers unchanged, because every
    // read path already merge-on-read-filtered the same rows. The bands
    // (and pfx) tables compact IN LAYOUT (one file per partition, emptied
    // partitions dropped at rest — [[Bucketed.compactPartitioned]]). Up
    // to five independent table rewrites fan out on driver threads
    // ([[graft.functions.Par]] — they were the gate wall's longest serial
    // chain); the log clears only after ALL legs land (fail-slow), so a
    // crash anywhere leaves the log intact and the re-run converges.
    val legs: Seq[() => Unit] = Seq(
      () => Bucketed.compactBucketed(spark, s"${name}_sigs", "doc_id",
        Tombstones.filter(_, name, "doc_id")),
      () => Bucketed.compactPartitioned(spark, s"${name}_bands", "pb",
        Tombstones.filter(_, name, "doc_id"),
        regrid = Some(Bucketed.Regrid(derivedParts(spark, _), withPb)))) ++
      (if (isClustered(spark, name)) clusterCompactLegs(spark, name) else Nil)
    graft.functions.Par.inParallel(legs)
    Tombstones.clear(spark, name)
  }

  /** Targeted compaction POLICY for the partitioned surfaces —
    * [[Bucketed.compactOverThreshold]] on `_bands` (and `_pfx` on a
    * clustered index): read each partition's physical file count from
    * `_metadata` provenance, rewrite ONLY the slices
    * whose count exceeds `threshold`, leave the other 99% of a 100 TB
    * index unread. This is the standing maintenance verb a daily-ingest
    * loop actually wants — each [[extend]] appends one file per touched
    * slice, and a FULL [[compact]] (which also rewrites the bucketed
    * `_sigs`/`_shg`/`_clusters` tables) is a much bigger hammer than the
    * small-file pathology needs.
    *
    * Tombstoned rows are purged from the slices the pass REWRITES and
    * only those; the log is deliberately NOT cleared (unselected slices
    * still hold their rows at rest, masked by merge-on-read — exactly
    * [[AnnIndex.compact]]'s cid-scoped contract; the full [[compact]]
    * remains the log-retiring purge point). Returns the decision plan it
    * acted on: (table, part, n_files, needs_compaction). */
  def compactOverThreshold(spark: SparkSession, name: String,
      threshold: Int): DataFrame = {
    healedTables(spark, name)
    // per-table transforms mirror [[compact]]'s legs exactly: bands purge
    // tombstones; prefixes additionally collapse replay duplicates
    val purged = (df: DataFrame) => Tombstones.filter(df, name, "doc_id")
    val tables = Seq(("_bands", "pb", purged)) ++
      (if (isClustered(spark, name)) Seq(("_pfx", "ps", purged.andThen(_.distinct())))
      else Nil)
    // disjoint tables — each plan-and-rewrite fans on its own driver thread
    val plans = Array.fill(tables.length)(Seq.empty[(Long, Long, Boolean)])
    graft.functions.Par.inParallel(tables.zipWithIndex.map {
      case ((sfx, partCol, transform), i) => () =>
        plans(i) = Bucketed.compactOverThreshold(spark, name + sfx, partCol,
          threshold, transform)
    })
    import spark.implicits._
    tables.zip(plans).flatMap { case ((sfx, _, _), plan) =>
      plan.map { case (part, n, over) => (sfx.stripPrefix("_"), part, n, over) }
    }.toDF("table", "part", "n_files", "needs_compaction")
  }

  /** Candidate (corpus_id, new_id) pairs: the batch's band keys probed into
    * the persisted band table. Batch side broadcast; index side a
    * partition-PRUNED scan — the probe's `pb` values (derived with the
    * stored modulus) join the partition column, so Spark's dynamic
    * partition pruning reads only the colliding slices (plan-pinned in
    * DedupIndexSpec). The merge-on-read tombstone filter applies AFTER the
    * pruned join (the [[AnnIndex.topKAgainst]] discipline — an anti-join
    * between the scan and the probe join would block the DPP pattern);
    * same result, the downstream sigs join is inner on corpus_id. */
  private[graft] def candidatesAgainst(spark: SparkSession, name: String,
      newSigs: DataFrame): DataFrame = {
    healedTables(spark, name)
    val newBands = dppEligible(withPb(Dedup.bandsOf(newSigs),
        Bucketed.partsOf(spark, s"${name}_bands")), "pb")
      .select(col("pb"), col("band"), col("band_key"), col("doc_id").as("new_id"))
    Tombstones.filter(
      spark.table(s"${name}_bands")
        .join(broadcast(newBands), Seq("pb", "band", "band_key")),
      name, "doc_id")
      .select(col("doc_id").as("corpus_id"), col("new_id"))
      .distinct()
  }

  /** Verified near-dups of a new (doc_id, text) batch against the indexed
    * corpus: band-collision candidates, then signature-agreement estimate
    * ≥ the verify threshold — same verify rule as the batch
    * [[Dedup.minhashLsh]], so incremental ≡ recompute restricted to
    * (corpus × batch) pairs (DedupIndexSpec pins the equivalence).
    * `estThreshold` < 0 (the default) resolves from the property [[build]]
    * persisted with the index — two callers probing the same corpus must
    * get the same dedup semantics unless one EXPLICITLY overrides (the
    * cluster-threshold discipline applied to the estimate gate,
    * round-12 VERDICT item 6). */
  def nearDupsAgainst(spark: SparkSession, name: String, newDocs: DataFrame,
      estThreshold: Double = -1.0): DataFrame = {
    val est = if (estThreshold >= 0) estThreshold else storedEst(spark, name)
    val newSigs = Materialize(sigsOf(newDocs))
    val cand = candidatesAgainst(spark, name, newSigs)
    spark.table(s"${name}_sigs")
      .select(col("doc_id").as("corpus_id"), col("mhs").as("mhs_c"))
      .join(broadcast(cand), "corpus_id")
      .join(broadcast(newSigs.select(col("doc_id").as("new_id"),
        col("mhs").as("mhs_n"))), "new_id")
      .withColumn("est_jaccard", Dedup.estJaccard(col("mhs_c"), col("mhs_n")))
      .filter(col("est_jaccard") >= est)
      .select(col("corpus_id"), col("new_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
      // distinct on the (small) verified pair set: an index row duplicated
      // by an at-least-once extend replay (DedupIndexStream's documented
      // trade) then cannot duplicate output pairs
      .distinct()
  }

  // ==================================================================
  // Persisted incremental CLUSTER MAP (q228) — the last lifecycle verb
  // the dedup family lacked (round-10 VERDICT item 1): consumers of
  // cluster ids (keep-best, cluster stats, soft weights) previously
  // re-ran connected components over the whole pair graph per call; a
  // CLUSTERED index persists the map and maintains it incrementally.
  //
  // The pair rule is the EXACT word-trigram Jaccard of q25/q37 (prefix-
  // filtered PPJoin — exhaustive, no false negatives), NOT the MinHash
  // estimate: exactness is what makes "incremental ≡ from-scratch" a
  // theorem (band collision would make the pair set sampling-dependent)
  // and what lets the q228 DuckDB oracle recompute the closure over the
  // retained corpus and hash-match the incrementally maintained table.
  //
  // Extra layout (all riding the family's verbs):
  //  - `{name}_shg`      (doc_id, sh)        bucketed by doc_id — the
  //    sorted shingle sets, the exact-verify source;
  //  - `{name}_pfx`      (doc_id, s, n, rk, ps)  PARTITIONED by
  //    ps = pmod(xxhash64(s), parts) — the PPJoin inverted PREFIX index:
  //    a batch's prefix rows broadcast into this scan AND dynamically
  //    prune its partitions (the `_bands` discipline), so incremental
  //    candidate discovery never self-joins the corpus and reads only
  //    the slices the batch's prefix shingles hash into;
  //  - `{name}_clusters` (doc_id, label, ver) bucketed by doc_id —
  //    APPEND-ONLY versioned assignments: the current label of a doc is
  //    its max-ver row (max_by over the bucketed scan — exchange-free),
  //    so merges and split-repairs are O(rows touched), never a table
  //    rewrite;
  //  - `{name}_labelmap` (old_label, new_label) — tiny, replaceTable-
  //    managed, path-compressed: a MERGE re-points whole components in
  //    O(1) rows instead of re-appending every member.
  //
  // Maintenance algebra:
  //  - extend: new edges = (corpus_pfx ⋈ broadcast batch_pfx) ∪ intra-
  //    batch candidates, exact-verified; contract endpoints to their
  //    current labels; CC over the LABEL graph (tiny — O(batch edges));
  //    merged old roots become labelmap entries, batch docs append with
  //    final labels.
  //  - delete: a removed doc can SPLIT its component (bridge) or orphan
  //    its label (minimum member) — [[repairClusters]] recomputes CC over
  //    the retained members of affected components only and appends
  //    fresh assignments; labelmap entries pointing at dissolved roots
  //    are dropped (every member got a fresh row, so they are dead).
  //  - compact: fold base ⊕ map ⊕ tombstones into a fresh ver-0 base,
  //    purge `_shg`/`_pfx`, clear the map.
  // ==================================================================

  private val ClusterSuffixes = Seq("_shg", "_pfx", "_clusters", "_labelmap")

  /** The build-time Jaccard threshold rides the `_clusters` table as a
    * TABLE PROPERTY ([[graft.sink.TableProps]]): it is baked into the
    * persisted `_pfx` prefix rows and the cluster base, so every
    * maintenance verb (extend's candidate discovery, delete's repair)
    * reads IT — a caller-supplied threshold on a clustered index is the
    * round-11 ADVICE bug (silent maintenance at the wrong setting). */
  private val ThresholdProp = "graft.cluster.threshold"
  // the MinHash verify gate's default — on `_bands` (the LSH surface it
  // gates; it rides generation renames like graft.parts, and a growth
  // re-grid in [[compact]] carries it onto the staging table)
  private val EstProp = "graft.est.threshold"

  /** The persisted default verify threshold; 0.5 for indexes predating
    * the property (the historical call-site default). */
  private[graft] def storedEst(spark: SparkSession, name: String): Double =
    TableProps.get(spark, s"${name}_bands", EstProp)
      .map(_.toDouble).getOrElse(0.5)

  /** Monotonic assignment-version counter, persisted as a `_clusters`
    * table property and BUMPED BEFORE each append — two writes can never
    * share a version (round-11 watch item: `System.nanoTime()` stamps
    * were correct under max_by resolution but could theoretically tie
    * within one tick). A crash after the bump just leaves a gap; a
    * replayed extend bumps again, so its re-derived rows shadow the torn
    * attempt's with identical values. Maintenance per index is
    * single-writer (the streaming loops run one micro-batch at a time),
    * so the read-bump-set is not racy in practice.  */
  private val VerProp = "graft.cluster.ver"

  private def nextVer(spark: SparkSession, name: String): Long = {
    val t = s"${name}_clusters"
    val v = TableProps.get(spark, t, VerProp).map(_.toLong).getOrElse(0L) + 1L
    TableProps.set(spark, t, VerProp -> v.toString)
    v
  }

  private[graft] def storedThreshold(spark: SparkSession, name: String): Double =
    TableProps.required(spark, s"${name}_clusters", ThresholdProp).toDouble

  private def isClustered(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_clusters")

  private def healedClusterTables(spark: SparkSession, name: String): Unit =
    ClusterSuffixes.foreach(s => Bucketed.healInterruptedReplace(spark, name + s))

  /** [[build]] plus the cluster-map tables: shingle sets, the inverted
    * prefix index, the from-scratch cluster base (exact pair graph + CC,
    * the q37 computation persisted), and an empty label map. */
  def buildClustered(docs: DataFrame, name: String, buckets: Int = -1,
      threshold: Double = 0.6, parts: Int = -1,
      estThreshold: Double = 0.5): Unit =
    // ONE shingling pass feeds the signature leg AND the cluster leg
    // (build + buildClustered's extra tables shingled the corpus twice
    // before — round-11 VERDICT item 6). A torn build's recovery is
    // re-running it (from-source, like every build).
    buildClusteredFromRaw(Materialize(docs.select(col("doc_id"),
      wordShingles(col("text")).as("w"))), name, buckets, threshold,
      parts, estThreshold)

  /** [[buildClustered]] from a precomputed (doc_id, w) shingle frame —
    * the q228 discipline: gate lifecycles that slice one corpus three
    * ways share one scan. */
  private[analytics] def buildClusteredFromRaw(raw: DataFrame, name: String,
      buckets: Int, threshold: Double = 0.6, parts: Int = -1,
      estThreshold: Double = 0.5): Unit = {
    import graft.functions.PhaseTimer.timed
    val spark = raw.sparkSession
    val (sigs, n) = timed("clubld.sigs")(Materialize.counted(raw.select(col("doc_id"),
      Dedup.minhashSignature(col("w")).as("mhs"))))
    // ONE count derives the grid AND the bucket width so all four tables
    // of both families share one modulus / one width
    val (b, p) = widths(spark, n, buckets, parts)
    graft.functions.Par.inParallel(Seq(
      () => buildFromSigs(sigs, name, b, p, estThreshold),
      () => buildClusterTables(raw, name, b, threshold, p)))
  }

  /** The cluster-surface half of [[buildClustered]] — callable on its own
    * when `_sigs`/`_bands` are built elsewhere from shared inputs (the
    * q216 gate promotes its dedup family to clustered without forking the
    * session-memoized signature pass). `raw` is the (doc_id, w) shingle
    * frame; its two legs write disjoint tables and fan out. */
  private[analytics] def buildClusterTables(raw: DataFrame, name: String,
      buckets: Int, threshold: Double, parts: Int): Unit = {
    import graft.functions.PhaseTimer.timed
    val spark = raw.sparkSession
    val shg = timed("clubld.shg")(Materialize(raw.select(col("doc_id"),
      graft.functions.Sketches.sortByHash(col("w")).as("sh"))))
    graft.functions.Par.inParallel(Seq(
      () => {
        timed("clubld.shg.write")(
          Bucketed.writeBucketed(shg, s"${name}_shg", "doc_id", buckets))
        timed("clubld.pfx.write")(Bucketed.writePartitioned(
          withPs(Dedup.shinglePrefixes(shg, threshold), parts),
          s"${name}_pfx", "ps", parts))
      },
      () => {
        // pairs materialized HERE (not lazily inside CC) so the rehearsal's
        // leg attribution separates candidate+verify volume from the CC
        // iterations; CC's own input Materialize then snapshots a
        // checkpointed frame (a no-op scan, not a second verify pass)
        val pairs = timed("clubld.verify")(Materialize(
          Dedup.verifyJaccardPairs(
            Dedup.jaccardCandidatesOn(shg, threshold)
              .select(col("doc_a").as("a"), col("doc_b").as("b")),
            shg, threshold).select(col("a"), col("b"))))
        val labels = timed("clubld.cc")(Dedup.connectedComponents(pairs))
        val base = shg.select(col("doc_id"))
          .join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("label"),
            lit(0L).as("ver"))
        timed("clubld.base.write")(
          Bucketed.writeBucketed(base, s"${name}_clusters", "doc_id", buckets))
        TableProps.set(spark, s"${name}_clusters",
          ThresholdProp -> threshold.toString, VerProp -> "0")
        writeLabelMap(spark, name, emptyLabelMap(spark))
      }))
  }

  /** The resolved cluster map — every retained doc with its canonical
    * (minimum reachable) id: max-ver base assignment (exchange-free
    * group-by on the bucketed scan) → label-map redirect (broadcast) →
    * tombstone filter. Same output shape as the batch q37. */
  def clusterMap(spark: SparkSession, name: String): DataFrame = {
    healedClusterTables(spark, name)
    val cur = spark.table(s"${name}_clusters")
      .groupBy(col("doc_id")).agg(expr("max_by(label, ver)").as("lbl0"))
    Tombstones.filter(applyLabelMap(spark, name, cur), name, "doc_id")
      .select(col("doc_id"), col("lbl").as("canonical_id"),
        (col("lbl") === col("doc_id")).as("is_canonical"))
  }

  private def applyLabelMap(spark: SparkSession, name: String,
      base: DataFrame): DataFrame =
    base.join(broadcast(spark.table(s"${name}_labelmap")),
        col("lbl0") === col("old_label"), "left")
      .select(col("doc_id"), coalesce(col("new_label"), col("lbl0")).as("lbl"))

  /** Current labels of a SMALL id set — the O(endpoints) resolution the
    * extend path uses (the semi-join prunes the bucketed base scan; no
    * corpus-wide group-by on the request path). */
  private def resolvedFor(spark: SparkSession, name: String,
      ids: DataFrame): DataFrame =
    applyLabelMap(spark, name,
      spark.table(s"${name}_clusters")
        .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id")).agg(expr("max_by(label, ver)").as("lbl0")))

  /** Incremental min-label merge of a new batch into the persisted map —
    * O(batch edges): candidates from the persisted prefix index (batch
    * side broadcast) plus the intra-batch self-join, exact-verified
    * against `_shg` ∪ the batch's own shingles; then CC over the
    * CONTRACTED label graph, so the iterative part never sees corpus
    * rows. Replay-safe: re-found pairs contract to already-merged labels
    * (no-op entries are filtered), re-appended batch rows are
    * ver-shadowed duplicates. */
  private def extendClusters(docs: DataFrame, raw: DataFrame, name: String,
      threshold: Double): Unit = {
    val spark = docs.sparkSession
    healedClusterTables(spark, name)
    // `raw` is extend's already-materialized (doc_id, w) shingle pass —
    // sorting it is a narrow map, not a second corpus-text scan
    import graft.functions.PhaseTimer.timed
    val batch = timed("cluext.shingle")(Materialize(raw.select(col("doc_id"),
      graft.functions.Sketches.sortByHash(col("w")).as("sh"))))
    val parts = Bucketed.partsOf(spark, s"${name}_pfx")
    val bp = withPs(Dedup.shinglePrefixes(batch, threshold), parts)
    val bpProbe = dppEligible(bp, "ps")
    // the broadcast batch prefixes dynamically prune the stored prefix
    // scan via the shared ps column; the tombstone filter applies AFTER
    // the pruned join on the corpus side (the candidatesAgainst/AnnIndex
    // discipline — an anti-join under the probe join blocks DPP)
    val cross = Tombstones.filter(
        spark.table(s"${name}_pfx").as("x").join(broadcast(bpProbe).as("y"),
          col("x.ps") === col("y.ps") && col("x.s") === col("y.s") &&
            col("x.doc_id") =!= col("y.doc_id") &&
            Dedup.ppjoinFilters(threshold))
          .select(col("x.doc_id").as("cdoc"), col("y.doc_id").as("bdoc")),
        name, "cdoc")
      .select(least(col("cdoc"), col("bdoc")).as("a"),
        greatest(col("cdoc"), col("bdoc")).as("b"))
    val intra = Dedup.jaccardCandidatesOn(batch, threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val cand = timed("cluext.probe")(
      Materialize(cross.unionByName(intra).distinct()))
    // Two independent legs fan out from here (latency, not volume, is the
    // extend request's cost — every step below is a small driver-
    // synchronous job):
    //  - the APPENDS: the batch's shingles and prefix rows land in the
    //    established bucket layouts BEFORE the map writes below, so a
    //    crash leaves at worst a replayable batch (re-found pairs merge
    //    to already-merged labels), never a corpus the next extend can't
    //    pair against — the contract only orders appends BEFORE map
    //    writes, not against the read-only verify/resolve chain;
    //  - the VERIFY/RESOLVE chain: lookup → exact-verify → stored-label
    //    resolution, all reads. The lookup is order-insensitive to the
    //    concurrent shg append: it unions the batch in explicitly and
    //    dropDuplicates on doc_id, so seeing the appended batch rows (or
    //    not) yields the same frame.
    var edgesV: DataFrame = null
    var storedV: DataFrame = null
    graft.functions.Par.inParallel(Seq(
      () => timed("cluext.append")(graft.functions.Par.inParallel(Seq(
        () => timed("cluext.append.shg") {
          Bucketed.appendBucketed(batch, s"${name}_shg", "doc_id")
          graft.sink.CrashPoints.reached("cluext.shg")
        },
        () => timed("cluext.append.pfx") {
          Bucketed.appendPartitioned(bp, s"${name}_pfx", "ps")
          graft.sink.CrashPoints.reached("cluext.pfx")
        }))),
      () => {
        val candIds = cand.select(col("a").as("doc_id"))
          .unionByName(cand.select(col("b").as("doc_id"))).distinct()
        val lookup = timed("cluext.lookup")(Materialize(batch.unionByName(
            spark.table(s"${name}_shg")
              .join(broadcast(candIds), Seq("doc_id"), "left_semi"))
          .dropDuplicates("doc_id")))
        edgesV = timed("cluext.verify")(Materialize(
          Dedup.verifyJaccardPairs(cand, lookup, threshold)
            .select(col("a"), col("b"))))
        // contract inputs: endpoint → current label (stored docs through
        // base+map, fresh docs their own label). Batch ids resolve through
        // the SAME lookup — a replayed batch doc already has base rows,
        // and appending it keyed on its own id instead of its stored label
        // would shadow the earlier merge (at-least-once replay must be a
        // label no-op).
        val ends = edgesV.select(col("a").as("doc_id"))
          .unionByName(edgesV.select(col("b").as("doc_id"))).distinct()
        storedV = timed("cluext.resolve")(Materialize(resolvedFor(spark,
          name, ends.unionByName(docs.select(col("doc_id"))).distinct())))
      }))
    val edges = edgesV
    val stored = storedV
    val ends = edges.select(col("a").as("doc_id"))
      .unionByName(edges.select(col("b").as("doc_id"))).distinct()
    def curOf(ids: DataFrame): DataFrame =
      ids.join(stored, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
    val endLbl = curOf(ends) // cheap: a join of two materialized frames
    // The contracted graph is REQUEST-sized by construction (≤ one edge
    // per verified batch pair, after same-label collapse), so its CC runs
    // as a driver union-find — the iterative distributed CC pays 2+ jobs
    // of fixed latency PER ROUND for a graph that fits in a page; this is
    // the compaction planner's cardinality discipline (O(request) metadata
    // on the driver, never corpus rows). Corpus-scale CC (buildClustered,
    // repairClusters) stays distributed.
    val lblPairs = timed("cluext.contract")(edges
      .join(endLbl.select(col("doc_id").as("a"), col("lbl").as("la")), "a")
      .join(endLbl.select(col("doc_id").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val root = minLabelUnionFind(lblPairs)
    val rootDf = broadcast(spark.createDataFrame(
      root.toSeq.map { case (n, l) => (n, l) }).toDF("node", "label"))
    // batch rows land with their FINAL labels (merge info is durable in
    // the base even if the map rewrite below is lost to a crash — the
    // replay re-derives the same entries)
    val ver = lit(nextVer(spark, name))
    val batchRows = curOf(docs.select(col("doc_id")))
      .join(rootDf, col("lbl") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("lbl")).as("label"), ver.as("ver"))
    timed("cluext.rows")(
      Bucketed.appendBucketed(batchRows, s"${name}_clusters", "doc_id"))
    graft.sink.CrashPoints.reached("cluext.clusters")
    // merged OLD roots (labels some stored doc currently resolves to)
    // become path-compressed map entries; existing entries re-point. A
    // batch with no cross-label merges skips the map rewrite entirely —
    // the standing-loop steady state pays only the appends.
    timed("cluext.labelmap") {
      val storedLblSet = stored.select(col("lbl")).distinct()
        .collect().map(_.getLong(0)).toSet
      val newEntries = root.toSeq.collect {
        case (node, lbl) if node != lbl && storedLblSet(node) => (node, lbl)
      }
      if (newEntries.nonEmpty) {
        val ne = broadcast(spark.createDataFrame(newEntries)
          .toDF("old_label", "new_label"))
        val om = spark.table(s"${name}_labelmap").as("m")
        val composed = om
          .join(ne.as("n"), col("m.new_label") === col("n.old_label"), "left")
          .select(col("m.old_label"),
            coalesce(col("n.new_label"), col("m.new_label")).as("new_label"))
          .unionByName(ne)
        writeLabelMap(spark, name, composed)
      }
    }
  }

  /** Min-label union-find over contracted label edges — node → component
    * minimum, path-compressed. Driver-side on request-sized input (see
    * [[extendClusters]]). */
  private def minLabelUnionFind(edges: Array[(Long, Long)]): collection.Map[Long, Long] = {
    val parent = collection.mutable.Map.empty[Long, Long]
    // iterative find with full path compression (a recursive find would
    // track chain length on the stack — batch-sized, but unbounded)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /** Split/orphan repair after a delete: resolve the UNFILTERED map once
    * (pending-deleted docs locate their components), recompute exact
    * pairs + CC among the RETAINED members of affected components only,
    * append fresh assignments, and drop map entries whose target root
    * dissolved. O(affected components) rewrite on top of one narrow
    * (doc_id, label, ver) scan; at a purge-cadence-bounded log size that
    * scan is the cost floor of any label→members lookup without a
    * secondary index. */
  private def repairClusters(spark: SparkSession, name: String,
      threshold: Double): Unit = {
    healedClusterTables(spark, name)
    Tombstones.of(spark, name).foreach { log =>
      val all = Materialize(applyLabelMap(spark, name,
        spark.table(s"${name}_clusters").groupBy(col("doc_id"))
          .agg(expr("max_by(label, ver)").as("lbl0"))))
      val affected = Materialize(
        all.join(broadcast(log), all("doc_id") === log("id"), "left_semi")
          .select(col("lbl")).distinct())
      if (!affected.isEmpty) {
        val members = all.join(broadcast(affected), Seq("lbl"), "left_semi")
        val retained = Materialize(
          Tombstones.filter(members.select(col("doc_id")), name, "doc_id"))
        val mshg = Materialize(spark.table(s"${name}_shg")
          .join(broadcast(retained), Seq("doc_id"), "left_semi"))
        val pairs = Materialize(Dedup.verifyJaccardPairs(
          Dedup.jaccardCandidatesOn(mshg, threshold)
            .select(col("doc_a").as("a"), col("doc_b").as("b")),
          mshg, threshold).select(col("a"), col("b")))
        // CC sizing (the extendClusters cardinality discipline): the pair
        // set is the affected components' INTERNAL near-dup pairs —
        // request-adjacent, not corpus-sized, in every lifecycle this
        // repair serves. When it provably fits a driver page, union-find
        // beats the iterative distributed CC (2+ fixed-latency jobs per
        // round for a graph that fits in memory); the distributed form
        // stays as the guard for a pathological giant component.
        val nPairs = pairs.count()
        val cc =
          if (nPairs <= 100000L) {
            val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
            val root = minLabelUnionFind(edges)
            broadcast(spark.createDataFrame(
              root.toSeq.map { case (n, l) => (n, l) }).toDF("node", "label"))
          } else Dedup.connectedComponents(pairs)
        val ver = lit(nextVer(spark, name))
        val rows = retained
          .join(cc, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("label"), ver.as("ver"))
        Bucketed.appendBucketed(rows, s"${name}_clusters", "doc_id")
        graft.sink.CrashPoints.reached("clurepair.appended")
        val om = spark.table(s"${name}_labelmap")
        val cleaned = om.join(broadcast(affected),
          om("new_label") === affected("lbl"), "left_anti")
        writeLabelMap(spark, name, cleaned)
      }
    }
  }

  /** Purge + fold at compaction: `_shg`/`_pfx` drop tombstoned rows in
    * layout; the resolved map (base ⊕ labelmap ⊕ tombstone filter)
    * becomes the fresh ver-0 base; the label map clears. Runs BEFORE the
    * family's Tombstones.clear — the fold must still see the log. */
  private def clusterCompactLegs(spark: SparkSession,
      name: String): Seq[() => Unit] = {
    healedClusterTables(spark, name)
    // the fold below REPLACES _clusters (fresh staging table, no
    // properties): read the persisted threshold first and stamp it on the
    // STAGING table inside the replace — properties ride the rename, so
    // there is no seam where _clusters exists property-less (a crash
    // replay re-runs compact, which must be able to read the threshold)
    val threshold = storedThreshold(spark, name)
    Seq(
      // the rewrites also collapse rows duplicated by at-least-once extend
      // replays (read paths already tolerate them; compaction is the remedy)
      () => Bucketed.compactBucketed(spark, s"${name}_shg", "doc_id",
        df => Tombstones.filter(df, name, "doc_id").dropDuplicates("doc_id")),
      () => Bucketed.compactPartitioned(spark, s"${name}_pfx", "ps",
        df => Tombstones.filter(df, name, "doc_id").distinct(),
        regrid = Some(Bucketed.Regrid(derivedParts(spark, _), withPs))),
      () => {
        // the fold reads only _clusters ⊕ _labelmap ⊕ the log — disjoint
        // from the shingle/prefix rewrites, so it rides its own leg
        val (folded, rows) = Materialize.counted(clusterMap(spark, name)
          .select(col("doc_id"), col("canonical_id").as("label"),
            lit(0L).as("ver")))
        val nb = Bucketed.grownBuckets(spark, s"${name}_clusters", rows)
        Bucketed.replaceTable(spark, s"${name}_clusters", { staging =>
          Bucketed.writeBucketed(folded, staging, "doc_id", nb)
          TableProps.set(spark, staging,
            ThresholdProp -> threshold.toString, VerProp -> "0")
        })
        writeLabelMap(spark, name, emptyLabelMap(spark))
      })
  }

  private def emptyLabelMap(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("old_label"), col("id").as("new_label"))

  private def writeLabelMap(spark: SparkSession, name: String,
      m: DataFrame): Unit =
    Bucketed.replaceTable(spark, s"${name}_labelmap", staging =>
      m.coalesce(1).write.format("parquet").saveAsTable(staging))

  /** Offline fsck for the cluster surface — the [[IndexAudit]]/
    * [[AnnGraphIndex.audit]] discipline applied to the cluster-map
    * tables. Full-scan invariants (audits are offline scans by design):
    *  - `missing_shingles` / `missing_prefixes`: retained assigned docs
    *    with no `_shg` / `_pfx` rows — a torn extend (clusters appended,
    *    shingles or prefixes not) localizes here; every doc shingles to
    *    ≥1 element (the `[trimmed_text]` fallback), so ≥1 prefix row is
    *    owed per doc;
    *  - `unassigned_docs`: retained `_shg` docs whose doc has no resolved
    *    cluster assignment — the reverse tear (shingles appended, cluster
    *    rows not), or a repair that forgot a member (round-11 ADVICE: the
    *    old name/doc described the opposite direction);
    *  - `open_canonicals`: resolved canonicals that are not retained
    *    self-canonical docs — the map must be CLOSED (every canonical is
    *    itself a member mapping to itself); a repair that forgot a
    *    member, a stale label-map entry, or a tombstoned minimum still
    *    serving as a label all flip this;
    *  - `dangling_map`: label-map entries whose target is not a current
    *    root — compressed chains and repair cleanup make every live
    *    entry point at a root, so any exception is corruption or a
    *    missed cleanup.
    * One row: (n_docs, missing_shingles, missing_prefixes,
    * unassigned_docs, open_canonicals, dangling_map). */
  def clusterAudit(spark: SparkSession, name: String): DataFrame = {
    healedClusterTables(spark, name)
    val m = Materialize(clusterMap(spark, name))
    val docs = m.select(col("doc_id"))
    val shg = spark.table(s"${name}_shg").select(col("doc_id")).distinct()
    val pfx = spark.table(s"${name}_pfx").select(col("doc_id")).distinct()
    val missShg = docs.join(shg, Seq("doc_id"), "left_anti")
    val missPfx = docs.join(pfx, Seq("doc_id"), "left_anti")
    val unassigned = Tombstones.filter(shg, name, "doc_id")
      .join(docs, Seq("doc_id"), "left_anti")
    val roots = m.filter(col("is_canonical")).select(col("doc_id").as("r"))
    val openCanon = m.select(col("canonical_id").as("r")).distinct()
      .join(roots, Seq("r"), "left_anti")
    val dangling = spark.table(s"${name}_labelmap")
      .select(col("new_label").as("r")).distinct()
      .join(roots, Seq("r"), "left_anti")
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(missShg.agg(count(lit(1)).as("missing_shingles")))
      .crossJoin(missPfx.agg(count(lit(1)).as("missing_prefixes")))
      .crossJoin(unassigned.agg(count(lit(1)).as("unassigned_docs")))
      .crossJoin(openCanon.agg(count(lit(1)).as("open_canonicals")))
      .crossJoin(dangling.agg(count(lit(1)).as("dangling_map")))
  }

  /** q229: the cluster-surface audit gate — build clustered on a SMALL
    * bucket slice, delete every doc_id ≡ 2 mod 7 (exercising the split/
    * orphan repair and the label-map cleanup in-gate), then
    * [[clusterAudit]]: n_docs must equal the retained slice exactly and
    * every invariant must read zero; the oracle states the whole row in
    * closed form. The extend leg is deliberately NOT in this gate — q228
    * already pays the full incremental lifecycle and the audit's
    * tear-detection columns scan identically either way (their
    * corruption-detection half is spec-pinned); a repair that forgot a
    * member, a stale label-map entry, a canonical that stopped being a
    * retained self-member — each flips a column and the hash
    * mismatches. */
  def clusterAuditGate(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_dedup_kla"
    // one corpus scan + content-bucket pass shared by the clustered build
    // and the delete slice (the q228 discipline)
    val docs = Materialize(documents(spark, dir).select(col("doc_id"),
      col("text"), Sampling.contentBucket(col("text")).as("cb"))
      .filter(col("cb") < 20))
    buildClustered(docs.select(col("doc_id"), col("text")), name, buckets = 4, parts = 8)
    delete(docs.filter(col("doc_id") % 7 === 2).select(col("doc_id")), name)
    clusterAudit(spark, name)
  }

  /** q228: the cluster-map gate — over the content-bucket-<50 corpus slice
    * (the q227 cost discipline: the gate's price is its lifecycle JOB
    * COUNT — a from-scratch build, two incremental merges, a split repair
    * and ~20 sequential table writes/actions — not its data volume; the
    * slice halves the volume but the wall is latency-bound. Measured
    * per-leg at sf0.1, steady-state: build ≈3.8 s, each extend ≈3.4 s
    * [sigs/bands 0.7 + candidates/verify ~1.5 + three appends ~1.3 +
    * label merge/map <0.5], delete+repair ≈2.1 s, resolved read 0.2 s):
    * build clustered on [20,50), extend TWICE ([10,20) then <10 —
    * the three slices partition the gate corpus), then delete every
    * doc_id ≡ 7 (mod 10), which exercises orphaned minima and splits. The
    * output is the resolved map over the retained corpus; the DuckDB
    * oracle recomputes the exact-Jaccard pair graph + min-label closure
    * over the retained slice from scratch — incremental ≡ from-scratch,
    * hash-matched. */
  def clusterGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PhaseTimer.timed
    val name = "graft_dedup_klx"
    // ONE corpus scan: each lifecycle slice used to re-scan the documents
    // source (contentBucket is computed, not pushable — three full text
    // scans + hash passes for three disjoint slices). The shared frame
    // carries cb so the slices are cheap filters over the checkpoint;
    // build/extend math is IDENTICAL (extendImpl consumes exactly the
    // (doc_id, w) frame extend would have computed).
    val shared = Materialize(documents(spark, dir)
      .select(col("doc_id"), col("text"),
        Sampling.contentBucket(col("text")).as("cb"))
      .filter(col("cb") < 50)
      .select(col("doc_id"), col("text"), col("cb"),
        TextStats.wordShingles(col("text")).as("w")))
    def slice(p: org.apache.spark.sql.Column) = shared.filter(p)
    timed("q228.build")(buildClusteredFromRaw(
      slice(col("cb") >= 20).select(col("doc_id"), col("w")),
      name, buckets = 8, parts = 16))
    timed("q228.ext1")(extendImpl(
      slice(col("cb") >= 10 && col("cb") < 20).select(col("doc_id"), col("text")),
      Some(slice(col("cb") >= 10 && col("cb") < 20).select(col("doc_id"), col("w"))),
      name))
    timed("q228.ext2")(extendImpl(
      slice(col("cb") < 10).select(col("doc_id"), col("text")),
      Some(slice(col("cb") < 10).select(col("doc_id"), col("w"))), name))
    timed("q228.delete")(
      delete(slice(col("doc_id") % 10 === 7).select(col("doc_id")), name))
    clusterMap(spark, name)
  }

  /** q160: the oracle gate, planted-recall form (q48/q49 pattern) gating
    * BOTH index legs in one query. Corpus = documents with content bucket
    * ≥ 20; the index is [[build]]t on it, then [[extend]]ed with the
    * bucket-[10,20) slice. The probe batch is the organic bucket-<10 slice
    * plus a PLANTED verbatim copy (doc_id + 10⁷) of every doc in bucket
    * [10,30) — half hitting the built leg, half the extended leg. A
    * verbatim copy has an identical signature, so every band collides and
    * the estimate is exactly 1.0: each planted row MUST come back paired
    * with its original. Output is the planted join-back (ids + found
    * boolean), which DuckDB states verbatim from the bucket formula. */
  def incrementalGate(spark: SparkSession, dir: String): DataFrame =
    incrementalGateImpl(spark, dir, "graft_dedup_idx", compactFirst = false)

  /** q171: the q160 gate re-run through a COMPACTED index — build, extend
    * (leaving one small file per touched bucket per write), then
    * [[compact]] both index tables to one file per bucket before probing.
    * Same oracle statement as q160: compaction must not change a single
    * answer (the q47/q167 no-answer-change pattern); the file-count
    * collapse itself is pinned by DedupIndexSpec. */
  def compactedGate(spark: SparkSession, dir: String): DataFrame =
    incrementalGateImpl(spark, dir, "graft_dedup_cidx", compactFirst = true)

  /** q206: the DELETE gate, planted-recall form through BOTH delete paths.
    * The index is built on the full corpus, then every doc with content
    * bucket < 20 is deleted. The probe batch plants a verbatim copy
    * (doc_id + 10⁷) of every doc in bucket [0, 40): plants of DELETED
    * docs (bucket < 20) must come back unfound, plants of retained docs
    * found at estimate exactly 1.0 — first through the merge-on-read path
    * (tombstone log only, index files untouched), then again through the
    * physically purged index after [[compact]]. Both verdicts must agree
    * with the retention rule, which the oracle states from the bucket
    * formula. The join-back keys on corpus_id = new_id − 10⁷, so an
    * organic exact-duplicate of a deleted doc elsewhere in the corpus
    * can't fake a find. */
  def deleteGate(spark: SparkSession, dir: String): DataFrame = {
    val Stride = 10000000L
    val name = "graft_dedup_didx"
    // ONE corpus scan + content-bucket pass shared by the build corpus,
    // the delete slice, and the planted frame (the q228/incrementalGate
    // discipline)
    val docs = Materialize(documents(spark, dir).select(col("doc_id"),
      col("text"), Sampling.contentBucket(col("text")).as("cb")))
    build(docs.select(col("doc_id"), col("text")), name, buckets = 8, parts = 8)
    delete(docs.filter(col("cb") < 20).select(col("doc_id")), name)
    val planted = Materialize(docs.filter(col("cb") < 40)
      .select((col("doc_id") + lit(Stride)).as("doc_id"), col("text")))
    def foundCol(res: DataFrame): DataFrame =
      planted.select(col("doc_id").as("new_id"))
        .join(res.filter(col("corpus_id") === col("new_id") - Stride),
          Seq("new_id"), "left")
        .select(col("new_id"),
          coalesce(col("est_jaccard") === 1.0, lit(false)).as("found"))
    val mor = Materialize(foundCol(nearDupsAgainst(spark, name, planted, 0.9)))
    compact(spark, name) // physical purge; tombstone log resets
    val purged = foundCol(nearDupsAgainst(spark, name, planted, 0.9))
    mor.withColumnRenamed("found", "found_mor")
      .join(purged.withColumnRenamed("found", "found_purged"), Seq("new_id"))
      .select(col("new_id"), (col("new_id") - Stride).as("orig_id"),
        col("found_mor"), col("found_purged"))
  }

  /** q230: the q171 pattern through a THRESHOLD-scoped targeted pass —
    * build + extend leave one extra file per touched band slice, then
    * [[compactOverThreshold]] rewrites exactly the over-threshold slices
    * (threshold 1 — any slice the extend touched) and the planted probe
    * must answer identically to q160/q171 (targeted maintenance is
    * answer-preserving by the same merge-on-read argument; the
    * slice-scoping itself is pinned in DedupIndexSpec). */
  def targetedCompactionGate(spark: SparkSession, dir: String): DataFrame =
    incrementalGateImpl(spark, dir, "graft_dedup_tidx",
      compactFirst = false, targeted = true)

  private def incrementalGateImpl(spark: SparkSession, dir: String,
      name: String, compactFirst: Boolean,
      targeted: Boolean = false): DataFrame = {
    val Stride = 10000000L
    // ONE corpus scan (the q228 discipline): the gate slices this frame
    // five ways — build corpus, extend batch, planted copies (which the
    // lazy output plan consumes twice more), organic probe half — and
    // every un-materialized consumer re-read the documents source and
    // re-hashed every text into its content bucket. Slices are now
    // filters over the checkpoint; build/extend/probe math is untouched.
    val docs = Materialize(documents(spark, dir).select(col("doc_id"),
      col("text"), Sampling.contentBucket(col("text")).as("cb")))
    build(docs.filter(col("cb") >= 20).select(col("doc_id"), col("text")),
      name, buckets = 8, parts = 16)
    extend(docs.filter(col("cb") >= 10 && col("cb") < 20)
      .select(col("doc_id"), col("text")), name)
    if (compactFirst) compact(spark, name)
    if (targeted) compactOverThreshold(spark, name, threshold = 1)
    val planted = docs.filter(col("cb") >= 10 && col("cb") < 30)
      .select((col("doc_id") + lit(Stride)).as("doc_id"), col("text"))
    val batch = docs.filter(col("cb") < 10).select(col("doc_id"), col("text"))
      .unionByName(planted)
    val found = nearDupsAgainst(spark, name, batch, 0.9)
    planted.select(col("doc_id").as("new_id"))
      .join(found.filter(col("corpus_id") === col("new_id") - Stride),
        Seq("new_id"), "left")
      .select(col("new_id"), (col("new_id") - Stride).as("orig_id"),
        coalesce(col("est_jaccard") === 1.0, lit(false)).as("found"))
  }
}

