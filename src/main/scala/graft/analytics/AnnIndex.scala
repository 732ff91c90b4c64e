package graft.analytics

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.embeddings
import graft.functions.VectorOps.cosine
import graft.sink.Tombstones

/** Persisted IVF ANN index — the production shape of similarity search at
  * 100 TB, where the corpus is indexed ONCE and every retrieval reads only
  * the cells it probes:
  *
  *  - `<name>_centroids` (cid, cv): the trained quantizer, kilobytes.
  *  - `<name>_cells` (vec_id, v) PARTITIONED BY cid: one directory per
  *    cell, so a probe is a partition-pruned scan.
  *
  * The pruning is DYNAMIC (no driver collect, no literal cell list): the
  * per-query probed cells come out of a broadcast window over the centroid
  * table, and Spark's dynamic partition pruning turns that broadcast into
  * a runtime `cid IN (…)` partition filter on the cells scan — the scan
  * reads ≈ |distinct probed cells| / K of the index, verified by
  * AnnIndexSpec against the scan's partition count. Exact cosine re-rank
  * runs only on the scanned cells (same verify rule as the in-memory
  * [[Similarity.ivfTopKOn]], trained by the same
  * [[Similarity.trainCentroidsOn]], so index ≡ in-memory results).
  *
  * [[extend]] assigns new vectors with the STORED quantizer and appends
  * into the same partition layout — ingest grows the index without
  * retraining or rewriting (re-train+rebuild is a deliberate, separate
  * [[build]] call, the usual index-maintenance split).
  */
object AnnIndex {

  /** Build (or rebuild) the index over (vec_id, v) vectors. When the input
    * carries a `label` column, the per-label mean vectors of the BUILD
    * corpus are stored alongside as `<name>_label_stats` — the reference
    * distribution the drift-triggered [[refreshDecision]] compares against
    * (build → extend → monitor → refresh, the full index lifecycle). */
  def build(vecs: DataFrame, name: String, numCentroids: Int = 32): Unit = {
    // materialize the trained quantizer ONCE (≤ numCentroids rows): the
    // lazy orderBy/limit subtree otherwise re-scans the corpus inside
    // EVERY consumer — the centroids write, the assignment's packed
    // broadcast — paying the train pass 2-3× per build (guide §1.2)
    val centroids = graft.functions.Materialize(Similarity.trainCentroidsOn(
      vecs.select(col("vec_id"), col("v")), numCentroids))
    buildFrom(vecs, centroids, Similarity.assignCellsOn(vecs, centroids), name)
  }

  /** [[build]] from precomputed centroids + assigned cells — the q212/q216
    * shared-input path (centroid training and assignment dominate the
    * build; round-9 VERDICT item 4). */
  private[analytics] def buildFrom(vecs: DataFrame, centroids: DataFrame,
      assigned: DataFrame, name: String): Unit = {
    val spark = vecs.sparkSession
    for (t <- Suffixes.map(name + _)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.sink.ManagedPaths.clearStale(spark, t)
    }
    // crash points mark the durable seams for CrashSweepSpec's
    // refreshQuantizer sweep (a build on a LIVE name is from-source and
    // recoverable by re-running it; the refresh path only ever builds
    // into its staging name, where any torn prefix is dropped and
    // rebuilt by the re-run)
    graft.sink.CrashPoints.reached("annbuild.cleared")
    // The three tables are DISJOINT and each write is recoverable from
    // source (a build on a live name re-runs; the refresh path builds into
    // staging, where any torn subset is dropped and rebuilt by the re-run).
    // Running them concurrently makes torn states reachable that the old
    // serial order (centroids, cells, label stats) never produced —
    // `_cells` durable without `_centroids` among them. Recovery is still
    // safe, for a different reason: the re-run rewrites all three tables,
    // and the only table recovery READS is `_cells` (refreshQuantizer's
    // resume-before-read retrains from the vectors there), which each
    // write commits as one complete snapshot — a missing or stale
    // `_centroids` never feeds the rebuilt generation. Fan them on driver
    // threads — the round-14 Par discipline (guide §2.6): the gate
    // families pay max(write) instead of Σ(write).
    import graft.functions.PhaseTimer.timed
    graft.functions.Par.inParallel(Seq[Option[() => Unit]](
      Some(() => timed("annidx.centroids") {
        centroids.write.format("parquet").saveAsTable(s"${name}_centroids")
        graft.sink.CrashPoints.reached("annbuild.centroids")
      }),
      Some(() => timed("annidx.cells") {
        // every non-key input column rides into the cells table as payload
        // (cid last — it's the partition column), so attribute-FILTERED
        // search evaluates its predicate on the pruned scan itself, at rest
        assigned.write.format("parquet").partitionBy("cid")
          .saveAsTable(s"${name}_cells")
        graft.sink.CrashPoints.reached("annbuild.cells")
      }),
      if (!vecs.columns.contains("label")) None
      else Some(() => timed("annidx.stats") {
        labelMeansOn(vecs.select(col("label"), col("v")))
          .write.format("parquet").saveAsTable(s"${name}_label_stats")
        graft.sink.CrashPoints.reached("annbuild.stats")
      })).flatten)
    Tombstones.clear(spark, name) // a rebuild has nothing to forget
  }

  /** Drift RESPONSE — the refresh-train-deploy loop that completes the
    * lifecycle: [[refreshDecision]] (q166) says a label's population moved;
    * this retrains the quantizer over the index's CURRENT vectors
    * ([[Similarity.lloydCentroidsOn]] — q223's integer-exact Lloyd), builds
    * the refreshed generation under a staging name while the live index
    * keeps serving, and deploys with [[swapIn]] (q217's rename + partition
    * re-anchor). Tombstoned vectors drop out of the rebuild snapshot;
    * pending requests still carry across the swap (Tombstones.carryForward
    * inside TableSwap) — over-deletion-safe, like every other rebuild. */
  def refreshQuantizer(spark: SparkSession, name: String, k: Int = 32,
      iters: Int = 3): Unit = {
    val staging = name + "__refresh"
    // Resume-before-read: a PREVIOUS refresh that died mid-swap leaves
    // either a staged generation half-deployed (some suffixes renamed,
    // some not) or a renamed partitioned table whose catalog partition
    // locations still point at the staging root — reading `_cells`
    // through those serves zero rows, and a retrain from that read would
    // deploy an EMPTY index. swapIn is idempotent (skip-if-done per
    // suffix + unconditional re-anchor of live partitioned tables), so
    // re-running it first finishes whatever the crash interrupted;
    // CrashSweepSpec kills the refresh at every durable prefix and
    // re-runs it as recovery.
    swapIn(spark, staging, name)
    val vecs = Tombstones.filter(spark.table(s"${name}_cells"), name, "vec_id")
      .drop("cid")
    val cents = Similarity.lloydCentroidsOn(
      vecs.select(col("vec_id"), col("v")), k, iters)
    buildFrom(vecs, cents, Similarity.assignCellsOn(vecs, cents), staging)
    swapIn(spark, staging, name)
  }

  /** DELETE vectors from the index — merge-on-read ([[graft.sink.
    * Tombstones]]): the request appends its ids to the log and touches no
    * cell partition; [[topKAgainst]] anti-joins the log on its candidate
    * rows from the next query on. The physical rewrite is
    * [[purgeTombstones]] — a targeted in-layout pass over exactly the
    * cells that hold tombstoned vectors, on the maintenance schedule, not
    * the request path. */
  def delete(ids: DataFrame, name: String): Unit =
    Tombstones.append(ids.select(col("vec_id")), name, "vec_id")

  /** Physical purge: find the cells holding tombstoned vectors (one
    * semi-join scan of the index — at maintenance cadence, not per
    * request; a service purging hourly would keep an id→cid map instead),
    * rewrite exactly those partitions through [[compact]] (whose snapshot
    * drops tombstoned rows, and which drops a cell every one of whose
    * vectors was deleted), then reset the log. Untouched cells' files are
    * not rewritten — or even opened. */
  def purgeTombstones(spark: SparkSession, name: String): Unit =
    Tombstones.of(spark, name).foreach { log =>
      val cells = spark.table(s"${name}_cells")
      val cids = cells.join(broadcast(log), cells("vec_id") === log("id"),
          "left_semi")
        .select(col("cid")).distinct().collect().map(_.getLong(0)).toSeq
      if (cids.nonEmpty) compact(spark, name, Some(cids))
      Tombstones.clear(spark, name)
    }

  /** Per-label exact-decimal mean vectors of (label, v) — the q143 drift
    * monitor's kernel (Similarity.embeddingDrift) reused for the index's
    * stored reference stats: components 6-dp-quantized, summed in exact
    * DECIMAL (associative → layout-independent), divided in double, the
    * mean vector rebuilt in dim order. Bitwise reproducible by any engine
    * applying the same formula — which is exactly what lets the q166
    * oracle restate the stored stats from the raw parquet. */
  private[graft] def labelMeansOn(vecs: DataFrame): DataFrame = {
    val comps = vecs
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), round(col("x"), 6).as("xq"))
    comps.groupBy(col("label"), col("dim"))
      .agg(sum(col("xq").cast("decimal(28,12)")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("s").cast("double") / col("n")).as("m"), col("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        array_sort(collect_list(struct(col("dim"), col("m")))).as("a"))
      .select(col("label"), col("n_vecs"), expr("transform(a, p -> p.m)").as("mv"))
  }

  /** q166: the drift-triggered quantizer-refresh DECISION — the piece a
    * standing retrieval service runs nightly: per label, compare the live
    * corpus's mean vector against the build-time reference stored in
    * `<name>_label_stats`; a label whose centroid direction moved past the
    * threshold (cos < `tau`) votes rebuild. Emits one row per label with
    * the evidence (n_ref, n_cur, drift_cos) and the verdict, so the
    * operator — or the scheduler acting on it — sees WHY. A label present
    * on only one side (vanished, or brand-new since build) is maximal
    * drift: rebuild. Plan: one corpus scan into a (label, dim) partial+
    * final aggregate (64·|labels| groups), the kilobyte stats table
    * broadcast onto the label-count-sized result — nothing corpus-sized
    * shuffles, same posture as the q143 monitor it extends. */
  def refreshDecision(spark: SparkSession, name: String, current: DataFrame,
      tau: Double = 0.98): DataFrame = {
    val cur = labelMeansOn(current.select(col("label"), col("v")))
      .select(col("label"), col("n_vecs").as("n_cur"), col("mv").as("mv_cur"))
    spark.table(s"${name}_label_stats")
      .select(col("label"), col("n_vecs").as("n_ref"), col("mv").as("mv_ref"))
      .join(cur, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        round(cosine(col("mv_ref"), col("mv_cur")), 4).as("drift_cos"))
      .withColumn("rebuild", coalesce(col("drift_cos") < tau, lit(true)))
  }

  /** The q166 gate: build the index (storing reference stats) on the
    * organic corpus, then present a CURRENT corpus with planted drift —
    * a (+0.5)-shifted copy of every label<3 vector (ids +10⁶, labels
    * kept) — and emit the per-label refresh decision. Labels ≥ 3 see the
    * exact same vector set on both sides, so their mean vectors are
    * IDENTICAL doubles and drift_cos is exactly 1.0 → keep; the shifted
    * labels' means move far past the threshold → rebuild. The oracle
    * recomputes both sides from the raw parquet (the stored stats are
    * bitwise restatable — [[labelMeansOn]]) and states every row. */
  def refreshGate(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    build(e, "graft_ann_refresh", numCentroids = 16)
    val planted = e.filter(col("label") < 3)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, x -> x + 0.5d)").as("v"), col("label"))
    refreshDecision(spark, "graft_ann_refresh", e.unionByName(planted), 0.98)
      .orderBy(col("label"))
  }

  /** In-layout compaction of the cells table — the maintenance pass every
    * streaming-extended index needs: [[extend]] (and its foreachBatch twin
    * AnnIndexStream) appends a few small files into each touched `cid=…`
    * partition per micro-batch, and after N extends every probe pays N
    * file-opens per cell (the classic streaming-index small-file
    * pathology). [[graft.sink.Bucketed.compactPartitioned]] rewrites each
    * cell's rows into ONE file, in place, answers unchanged; `cids` scopes
    * the pass to chosen cells (the production form: compact the cells
    * today's ingest touched, leave the other 99% of a 100 TB index
    * untouched). The rewrite drops tombstoned rows from the cells it
    * touches, and a cell left empty loses its partition. The log itself
    * only resets in [[purgeTombstones]], which scopes a pass to ALL
    * affected cells — a threshold-scoped compact may leave tombstoned rows
    * elsewhere, still masked by the merge-on-read filter. */
  def compact(spark: SparkSession, name: String, cids: Option[Seq[Long]] = None): Unit =
    graft.sink.Bucketed.compactPartitioned(spark, s"${name}_cells", "cid",
      Tombstones.filter(_, name, "vec_id"), only = cids)

  /** Threshold-scoped compaction: [[compact]] exactly the cells whose
    * physical file count exceeds `threshold`
    * ([[graft.sink.Bucketed.compactOverThreshold]]) and return the plan it
    * acted on: (cid, n_files, needs_compaction). */
  def compactOverThreshold(spark: SparkSession, name: String, threshold: Int): DataFrame = {
    import spark.implicits._
    graft.sink.Bucketed.compactOverThreshold(spark, s"${name}_cells", "cid",
      threshold, Tombstones.filter(_, name, "vec_id"))
      .toDF("cid", "n_files", "needs_compaction")
  }

  /** q167: the q47-pattern no-answer-change gate over a COMPACTED index —
    * build on a quarter of the corpus, grow it with three separate
    * [[extend]] batches plus the planted ×2-scaled copies of the query
    * vectors (five small-file writes into the same partitions), compact
    * in place, then run the q161 planted-recall probe through the
    * compacted layout: every query's top-1 must still be its planted copy
    * at cosine exactly 1.0. The oracle states the planted outcome; the
    * file-count collapse itself is pinned by AnnIndexSpec. */
  def compactedRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    build(e.filter(col("vec_id") % 4 === 0), "graft_ann_cmp", numCentroids = 16)
    for (r <- 1 to 3)
      extend(e.filter(col("vec_id") % 4 === r), "graft_ann_cmp")
    val q = e.filter(col("vec_id") < 10)
    extend(q.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(v, x -> x * 2.0d)").as("v")), "graft_ann_cmp")
    compact(spark, "graft_ann_cmp")
    val top = topKAgainst(spark, "graft_ann_cmp",
      q.select(col("vec_id").as("query_id"), col("v").as("qv")), k = 5)
    plantFound(q, top)
  }

  /** Append new vectors, assigned with the stored quantizer, and return
    * the cells the batch landed in — observed inside the append job
    * (`collect_set(cid)`, at most one entry per centroid), so a caller
    * that compacts those cells (AnnIndexStream) needs no pass of its own
    * over the batch. The select follows the cells table's own column order
    * (payload columns ride along; cid last); payload columns the batch
    * doesn't carry append as typed nulls — parquet's ordinary
    * missing-column semantics. */
  def extend(vecs: DataFrame, name: String): Seq[Long] = {
    val spark = vecs.sparkSession
    val cells = spark.table(s"${name}_cells")
    val assigned = Similarity.assignCellsOn(vecs, spark.table(s"${name}_centroids"))
    val filled = cells.schema.fields.foldLeft(assigned) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val touched = Observation()
    filled.select(cells.columns.toIndexedSeq.map(col): _*)
      .observe(touched, collect_set(col("cid")).as("cids"))
      .write.mode("append").format("parquet").partitionBy("cid")
      .saveAsTable(s"${name}_cells")
    touched.get("cids").asInstanceOf[Seq[Long]]
  }

  /** Top-k cosine neighbors of (query_id, qv) queries against the index:
    * nprobe nearest cells per query from the broadcast centroid table,
    * then an exact re-rank over a partition-pruned cells scan.
    *
    * `candFilter` is attribute-FILTERED search: a predicate over the cells
    * payload columns (and/or extra query columns — it evaluates on the
    * joined candidate row, so per-query filters like `label === flabel`
    * work), applied BEFORE the re-rank window, so the top-k is the top-k
    * of the filtered candidate set, not a post-filtered top-k (which
    * under-fills k — the classic filtered-ANN mistake). `keep` carries
    * named candidate columns into the output for auditability.
    * Pending deletions are masked here (merge-on-read anti-join on the
    * candidate rows — after the pruned join, so dynamic partition pruning
    * on the cells scan is undisturbed). */
  def topKAgainst(spark: SparkSession, name: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4,
      candFilter: Option[org.apache.spark.sql.Column] = None,
      keep: Seq[String] = Nil): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_c").desc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(spark.table(s"${name}_centroids")))
      .withColumn("sim_c", cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nprobe)
      // all query columns ride along (per-query candFilter columns, e.g.
      // the target label of a filtered search, must reach the re-rank row)
      .select(queries.columns.toIndexedSeq.map(col) :+ col("cid"): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    Tombstones.filter(
        spark.table(s"${name}_cells").join(broadcast(probes), Seq("cid")),
        name, "vec_id")
      .filter(col("query_id") =!= col("vec_id"))
      .filter(candFilter.getOrElse(lit(true)))
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim")) ++ keep.map(col): _*)
      // dedup on the candidate set (per-query cells content, not the
      // corpus): an index row duplicated by an at-least-once streaming
      // extend replay (AnnIndexStream's documented trade) must not occupy
      // two top-k slots; duplicate rows are value-identical, so the drop
      // is deterministic. ONE exchange serves both the dedup aggregate and
      // the rank window below: HashPartitioning(query_id) satisfies the
      // aggregate's ClusteredDistribution(query_id, neighbor_id) — the
      // round-14 §2.4 rewrite (Similarity.lshTopKOn) applied to the
      // persisted-index probe path
      .repartition(col("query_id"))
      .dropDuplicates(Seq("query_id", "neighbor_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(Seq(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cos_sim"), col("rn")) ++ keep.map(col): _*)
  }

  /** Deploy a rebuilt generation: rename the staging tables over the live
    * names. The q166 refresh loop's missing last step — `refreshDecision`
    * says rebuild, [[build]] writes the new generation into a STAGING name
    * (hours of work, zero impact on the serving index), and this swap
    * makes it live. The swap itself is catalog ops + a filesystem rename —
    * no data movement on HDFS-like stores (an object store pays a copy;
    * production there fronts the index with a view and replaces the view,
    * a single atomic catalog op). The two-op drop+rename window means a
    * concurrent reader can catch a missing table — the same reason the
    * warehouse-scale form of [[graft.sink.Bucketed.compactBucketed]] is
    * write-new + rename; AnnIndexSpec pins reader-visible content before
    * and after. Both generations' tombstone logs are retired: the new
    * generation was built from the current corpus and has nothing to
    * forget. */
  def swapIn(spark: SparkSession, staging: String, live: String): Unit =
    graft.sink.TableSwap.swapIn(spark, staging, live, Suffixes)

  /** The index's tables: what a build replaces and a swap renames. */
  private val Suffixes = Seq("_centroids", "_cells", "_label_stats")

  /** q217: the rebuild-and-swap gate — the serving flow a retrieval
    * service runs when q166 votes rebuild: the LIVE index (built on the
    * stale corpus) keeps serving while the new generation builds into
    * staging on the CURRENT corpus (which includes the ×2 planted copies
    * of every query); the swap lands; the same serving code — same live
    * name — must now find every plant at exactly 1.0. Before the swap it
    * could not (the copies postdate the live build), so the gate fails
    * both on a broken swap and on a swap that silently didn't happen. */
  def rebuildSwapGate(spark: SparkSession, dir: String): DataFrame = {
    val live = "graft_ann_live"
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 10)
    val current = e.unionByName(
      q.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, x -> x * 2.0d)").as("v")))
    // the stale and retrained generations are DISJOINT table sets — the
    // two builds fan on driver threads (production builds staging while
    // live serves; the graft.functions.Par discipline)
    graft.functions.Par.inParallel(Seq(
      () => build(e, live, numCentroids = 8), // stale generation: no plants
      () => build(current, s"${live}_stg", numCentroids = 16))) // retrained
    swapIn(spark, s"${live}_stg", live)
    val top = topKAgainst(spark, live,
      q.select(col("vec_id").as("query_id"), col("v").as("qv")), k = 5)
    plantFound(q, top)
  }

  /** q207: the DELETE gate, planted-recall form through BOTH delete paths.
    * Build on the corpus, extend with the scaled copy (id + 10⁶, ×2) of
    * every query vector — then DELETE the copies of queries 0–4. Queries
    * whose copy was deleted must no longer find it (top-1 ≠ copy at 1.0;
    * its own original is excluded by the self-filter, and no other
    * isotropic vector is exactly collinear); queries 5–9 still must.
    * Checked first merge-on-read (log only, no cell rewritten), then
    * again after [[purgeTombstones]] physically rewrote exactly the
    * affected cells. The oracle states both verdicts from the retention
    * rule. */
  def deleteGate(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_ann_didx"
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    build(e, name, numCentroids = 16)
    val q = e.filter(col("vec_id") < 10)
    extend(q.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(v, x -> x * 2.0d)").as("v")), name)
    delete(q.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id")), name)
    val queries = q.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val mor = graft.functions.Materialize(
      plantFound(q, topKAgainst(spark, name, queries, k = 5)))
    purgeTombstones(spark, name) // targeted in-layout rewrite; log resets
    val purged = plantFound(q, topKAgainst(spark, name, queries, k = 5))
    mor.withColumnRenamed("found", "found_mor")
      .join(purged.withColumnRenamed("found", "found_purged"), Seq("query_id"))
  }

  /** q209: attribute-FILTERED vector search, planted-recall form. The
    * index is built WITH the label payload at rest; every query's scaled
    * copy is planted with the query's own label. Leg A filters to the
    * query's label — the copy passes the filter and must be top-1 at
    * exactly 1.0 (`found_same`). Leg B filters to a DIFFERENT label —
    * the copy must vanish from the result entirely (`excluded_other`)
    * and every row the filtered search does return must satisfy the
    * filter (`filter_respected`; vacuously true if the probed cells hold
    * no such label). The oracle states all three from the construction. */
  def filteredGate(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_ann_fidx"
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
    build(e, name, numCentroids = 16)
    val q = e.filter(col("vec_id") < 10)
    extend(q.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(v, x -> x * 2.0d)").as("v"), col("label")), name)
    val nl = e.agg((max(col("label")) + 1L).as("nl"))
    val qs = q.crossJoin(broadcast(nl))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"), pmod(col("label") + 1L, col("nl")).as("olabel"))
    val same = topKAgainst(spark, name,
      qs.select(col("query_id"), col("qv"), col("qlabel")),
      k = 5, candFilter = Some(col("label") === col("qlabel")))
    val other = topKAgainst(spark, name,
      qs.select(col("query_id"), col("qv"), col("olabel")),
      k = 5, candFilter = Some(col("label") === col("olabel")),
      keep = Seq("label", "olabel"))
    val foundSame = plantFound(q, same).withColumnRenamed("found", "found_same")
    val otherAgg = other.groupBy(col("query_id")).agg(
      max(col("neighbor_id") === col("query_id") + 1000000L).as("has_copy"),
      min(col("label") === col("olabel")).as("all_match"))
    foundSame
      .join(otherAgg, Seq("query_id"), "left")
      .select(col("query_id"), col("found_same"),
        coalesce(!col("has_copy"), lit(true)).as("excluded_other"),
        coalesce(col("all_match"), lit(true)).as("filter_respected"))
  }

  /** q161: oracle gate, planted-recall form through BOTH index legs — the
    * index is [[build]]t on the corpus, then [[extend]]ed with a scaled
    * copy (vec_id + 10⁶, ×2 magnitude — same direction, so cosine exactly
    * 1.0 and the same nearest cell as the query's own vector) of every
    * query vector. Each query's top-1 through the pruned-scan path MUST be
    * its planted copy at similarity 1.0; any breakage in training,
    * assignment, the stored layout, dynamic pruning, or the probe window
    * falsifies it. */
  def plantedRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    build(e, "graft_ann_idx", numCentroids = 32)
    val q = e.filter(col("vec_id") < 10)
    extend(q.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(v, x -> x * 2.0d)").as("v")), "graft_ann_idx")
    val top = topKAgainst(spark, "graft_ann_idx",
      q.select(col("vec_id").as("query_id"), col("v").as("qv")), k = 5)
    plantFound(q, top)
  }

  /** Per query of `q` (vec_id, …): is its top-1 in `top` the planted copy
    * (vec_id + 10⁶) at cosine exactly 1.0 — the planted-copy verdict every
    * gate here states. */
  private def plantFound(q: DataFrame, top: DataFrame): DataFrame =
    q.select(col("vec_id").as("query_id"))
      .join(top.filter(col("rn") === 1), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("neighbor_id") === col("query_id") + 1000000L &&
          col("cos_sim") === 1.0, lit(false)).as("found"))
}
