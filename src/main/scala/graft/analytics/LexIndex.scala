package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.analytics.TextStats.tokens
import graft.functions.Materialize
import graft.sink.{Bucketed, Tombstones}

/** Persisted INVERTED index + incremental BM25 — the lexical member of the
  * persisted-index trio (MinHash [[DedupIndex]], IVF [[AnnIndex]]): the
  * corpus's postings and document lengths are written ONCE as bucketed
  * tables, each ingest batch appends in the same layout, and a BM25 query
  * reads only the postings of its own terms through bucket pruning — at
  * 100 TB a keyword query touches O(query df) index rows, never the corpus.
  *
  * Layout:
  *  - `<name>_postings` (term, doc_id, tf)  bucketed by term — a query
  *    term's postings live in ONE bucket (`SelectedBucketsCount` in the
  *    probe plan, pinned by LexIndexSpec)
  *  - `<name>_dl`       (doc_id, dl)        bucketed by doc_id
  *  - `<name>_stats`    (n_docs, sum_dl)    delta log: one row per
  *    build/extend, summed at query time (k rows, never rewritten — the
  *    running-total trick that makes extend O(batch))
  *
  * Incremental discipline: batch doc_ids are new, so appended postings
  * can't duplicate (term, doc_id) rows, per-term df = the posting count
  * restricted to the term (no stored df to keep consistent), and avgdl
  * re-derives from the stats deltas exactly — extend ≡ rebuild is
  * spec-pinned, and the q179 gate's oracle is the FROM-SCRATCH q176 SQL:
  * the index path must reproduce the direct corpus computation
  * answer-for-answer. */
object LexIndex {

  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))

  private[graft] def dlOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))

  /** Doc lengths derived from an already-computed postings frame: a doc's
    * length IS the sum of its term frequencies (dl = Σ tf, by definition of
    * both aggregates over the same token explode), so a caller holding
    * postings never needs [[dlOf]]'s second tokenize pass over the corpus —
    * at warehouse scale the explode over every document is the build's
    * dominant scan, and this halves it (guide §1.2: remove whole passes
    * before tuning anything inside one). Value-identical to [[dlOf]]:
    * ties out row-for-row on any corpus (spec-pinned). */
  private[graft] def dlFromPostings(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** Build (or rebuild) the index over a corpus of (doc_id, text) — ONE
    * tokenize pass: postings materialize once, dl derives from them
    * ([[dlFromPostings]]) instead of re-exploding the corpus. `buckets`
    * ≤ 0 (the default) derives one width for `_postings` and `_dl` from
    * the postings cardinality ([[Bucketed.derivedBuckets]]: ⌈postings /
    * `spark.graft.rows.per.bucket`⌉ in [1, 4096] — a fixed width is wrong
    * at both scale extremes, and every surplus bucket costs each stream
    * batch a task and a file). Extends and probes read the width from the
    * catalog either way; [[compact]] re-derives each table's width from
    * its live rows and only ever widens it. The postings count is
    * observed by the job that materializes them ([[Materialize.counted]]),
    * not by a job of its own. */
  def build(docs: DataFrame, name: String, buckets: Int = -1): Unit = {
    val (postings, n) = Materialize.counted(postingsOf(docs))
    val b = if (buckets > 0) buckets else Bucketed.derivedBuckets(docs.sparkSession, n)
    buildFrom(postings, Materialize(dlFromPostings(postings)), name, b)
  }

  /** [[build]] from precomputed postings/dl frames — the q212/q216
    * shared-input path ([[DedupIndex.buildFromSigs]]'s twin). */
  private[analytics] def buildFrom(postings: DataFrame, dl: DataFrame,
      name: String, buckets: Int): Unit = {
    val spark = dl.sparkSession
    // the three tables are disjoint — the big postings write and the
    // dl→stats chain fan on driver threads (guide §2.6: independent jobs
    // overlap so the build costs ~max(leg), not Σ(leg); a build crash
    // anywhere is recovered by re-running the build, same as before)
    graft.functions.Par.inParallel(Seq(
      () => Bucketed.writeBucketed(postings, s"${name}_postings", "term",
        buckets),
      () => {
        Bucketed.writeBucketed(dl, s"${name}_dl", "doc_id", buckets)
        spark.sql(s"DROP TABLE IF EXISTS ${name}_stats")
        graft.sink.ManagedPaths.clearStale(spark, s"${name}_stats")
        dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${name}_stats")
      }))
    Tombstones.clear(spark, name) // a rebuild has nothing to forget
  }

  /** DELETE docs from the index — merge-on-read plus one NEGATIVE stats
    * delta. A doc's postings are scattered across every term bucket, so the
    * request path must not rewrite them (that's [[compact]]'s job); but
    * BM25's n_docs/avgdl must reflect the deletion NOW, and those live in
    * the append-only stats delta log — so the delete appends (−n, −Σdl)
    * for the deleted docs. Long sums are exact, so the running totals
    * equal a from-scratch count over the retained corpus bit-for-bit (the
    * q208 oracle holds the served scores to exactly that).
    *
    * Crash/replay discipline: append the ids to the log (idempotent —
    * [[graft.sink.Tombstones.newIds]]), then [[healStats]]. The delta is
    * never derived from the request: heal RECONCILES the delta log with
    * the tombstone log, so any crash prefix of (append, heal) — including
    * a replayed or overlapping request, or a crash between the two
    * writes — converges to the same totals on the next call. This is what
    * lets the streaming loop ([[graft.streaming.RetentionStream]]) run
    * markerless where the extend loop (LexIndexStream) needs per-table
    * commit markers. */
  def delete(ids: DataFrame, name: String): Unit = {
    val spark = ids.sparkSession
    healedTables(spark, name)
    // Record each deleted doc's length IN the log (left join: an id the
    // index doesn't hold yet logs with NULL dl and resolves if it ever
    // arrives — see [[healStats]]). The stored dl is what makes heal's
    // target independent of physical state: a crash window where compact
    // has already purged the dl rows but not yet reset the log can no
    // longer shrink the target and un-subtract completed deletions
    // (round-8 ADVICE).
    val dl = spark.table(s"${name}_dl")
    val req = ids.select(col("doc_id")).distinct()
    Tombstones.append(
      req.join(dl, Seq("doc_id"), "left").select(col("doc_id"), col("dl")),
      name, "doc_id", payloadCols = Seq("dl"))
    healStats(spark, name)
  }

  /** Deploy a rebuilt generation over the live name (the q217 pattern;
    * bucket specs travel with the rename — see [[graft.sink.TableSwap]]).
    *
    * Retention across the swap, in four crash-isolated steps:
    *
    *  1. RE-ANCHOR the pending requests (live log ∪ any staging-side
    *     requests) against the STAGING generation's dl — ids the rebuild
    *     still contains re-resolve their dl from the new table (content
    *     can differ between generations); ids it already excluded keep a
    *     NULL dl (their stored amount must NOT re-subtract from fresh
    *     stats that never counted them, but the entry SURVIVES so a doc
    *     that later re-arrives via extend is still filtered and heals
    *     then). One broadcast pass over dl; the result is staged under
    *     `<live>_tombstones__staging` via [[Bucketed.stageReplacement]]
    *     — the exact name every Tombstones accessor's interrupted-
    *     replace heal covers, so no crash here or later can silently
    *     lose it, and a retry re-stages cleanly.
    *  2. PRE-SUBTRACT the re-anchored amounts into the STAGING stats
    *     ([[healStats]] on the staging name — idempotent), so the stats
    *     that rename in are already consistent with the filtered doc
    *     set: there is no post-swap window where served scores use
    *     un-healed n_docs/avgdl.
    *  3. FLIP the log ([[Bucketed.completeReplacement]]): merge-on-read
    *     filtering is id-based, so for requests addressed to the live
    *     name the flip is invisible to reads (same ids, new dl
    *     payloads); staging-addressed requests newly hide their docs
    *     from the still-serving old generation — over-deletion, the
    *     conservative direction for retention. The DROP→RENAME gap is
    *     covered by the accessors' heal.
    *  4. RENAME the data+stats tables (TableSwap) — the documented
    *     mixed-generation exposure.
    *
    * RECOVERY after a crash anywhere: re-run THIS method. Steps 1–3 are
    * durable and idempotent — a re-stage re-anchors the log from
    * scratch (including cleaning any dl values a stray heal resolved
    * against the OLD generation's dl during the window) and the
    * staging-stats heal reconciles to a zero delta; step 4's remaining
    * renames are skipped-if-done by the suffix loop. Crashes INSIDE or
    * after step 4 (between the `_dl` and `_stats` renames, or before the
    * final heal) are detected by the staging dl's absence — the re-run
    * skips steps 1–3 (already durable) and goes straight to the renames
    * + heal (round-9 ADVICE). The swap and its
    * recovery assume the module's single-maintainer discipline (no
    * concurrent delete/compact while a swap is in flight —
    * RetentionStream's sequential loop satisfies it): a delete landing
    * INSIDE a crashed swap's window can write old-generation dl into
    * the flipped log or a soon-discarded delta into the old stats; the
    * swapIn re-run re-anchors both away. */
  def swapIn(spark: SparkSession, staging: String, live: String): Unit = {
    // heal the staging generation's tables first: the staging-dl existence
    // check below must not be fooled by a compact that died in a
    // DROP→RENAME gap (TableSwap heals both generations for the renames)
    healedTables(spark, staging)
    // Re-anchor only while the staging generation's dl still exists: once
    // TableSwap has renamed `_dl` onto the live name (a crash between the
    // _dl and _stats renames, or after TableSwap but before the final
    // heal), steps 1–3 of the prior run already completed durably — they
    // all precede the renames — and re-deriving the rebase would throw
    // Table-not-found on `${staging}_dl`. In that window the re-run must
    // skip straight to the remaining renames (TableSwap's suffix loop is
    // skipped-if-done) and the final heal (round-9 ADVICE).
    if (spark.catalog.tableExists(s"${staging}_dl"))
      reanchorLog(spark, staging, live)
    graft.sink.TableSwap.swapIn(spark, staging, live, Suffixes)
    healStats(spark, live) // idempotent convergence point; no-op when clean
  }

  /** Steps 1–3 of [[swapIn]]: rebase the pending requests onto the staging
    * generation, pre-subtract them into the staging stats, flip the log.
    * Durable and idempotent — separated out so the crash-window spec can
    * stop exactly here and resume with a partial rename. */
  private[graft] def reanchorLog(spark: SparkSession, staging: String,
      live: String): Unit = {
    val allIds = (Tombstones.logOf(spark, live).toSeq ++
      Tombstones.logOf(spark, staging).toSeq)
      .map(_.select(col("id"))).reduceOption(_ unionByName _)
    allIds.foreach { all =>
      val ids = Materialize(all.distinct())
      val dl = spark.table(s"${staging}_dl")
      // broadcast the tiny id set both ways: one streamed pass over dl
      // for resolution; the unresolved remainder derives from the (also
      // tiny) resolved set, never from an anti-join building on dl
      val resolved = Materialize(
        dl.join(broadcast(ids), dl("doc_id") === col("id"))
          .select(col("id"), col("dl")))
      val rebased = resolved.unionByName(
        ids.join(broadcast(resolved.select(col("id"))), Seq("id"), "left_anti")
          .select(col("id"), lit(null).cast("long").as("dl")))
      graft.sink.Bucketed.stageReplacement(spark, Tombstones.tableOf(live),
        t => rebased.write.format("parquet").saveAsTable(t))
      // the staged stats must already carry the subtraction when they
      // rename in — heal the STAGING name against the staged log
      healStats(spark, staging, logOverride = Some(spark.table(
        graft.sink.Bucketed.stagingOf(Tombstones.tableOf(live)))))
      graft.sink.Bucketed.completeReplacement(spark, Tombstones.tableOf(live))
    }
  }

  /** Reconcile stats with the tombstone log. The target subtraction is
    * what the log itself says was deleted — each entry's dl as recorded
    * at delete time ([[delete]]) — NEVER the current physical dl table,
    * so a stale log left by a compact that crashed between the physical
    * purge and the log reset reconciles to a zero delta instead of
    * un-subtracting completed purges (round-8 ADVICE). What negative
    * delta rows already subtracted is read back from the stats table;
    * exactly the difference is appended (nothing, when converged). All
    * Long arithmetic — the healed totals are exact, not approximately
    * caught-up.
    *
    * Entries logged with NULL dl (deleted before the doc was ever
    * indexed) resolve here: if the id has since arrived in the dl table,
    * its dl is appended to the log as a second row for the id (per-id
    * max() folds the pair), making the subtraction durable against the
    * same crash window.
    *
    * `logOverride` heals `name`'s stats against an EXPLICIT request set
    * instead of `name`'s own log — [[swapIn]] uses it to pre-subtract the
    * re-anchored requests into the STAGING generation's stats before the
    * rename, so the stats that go live are already consistent (the
    * override is fully resolved, so the resolve-append stays silent). */
  private[graft] def healStats(spark: SparkSession, name: String,
      logOverride: Option[DataFrame] = None): Unit = {
    healedTables(spark, name)
    logOverride.orElse(Tombstones.logOf(spark, name)).foreach { rawLog =>
      val unresolved = rawLog.groupBy(col("id")).agg(max(col("dl")).as("dl"))
        .filter(col("dl").isNull).select(col("id"))
      val dl = spark.table(s"${name}_dl")
      val resolved = dl.join(broadcast(unresolved), dl("doc_id") === col("id"))
        .select(col("doc_id").as("id"), col("dl"))
      val withResolved =
        if (resolved.isEmpty) rawLog
        else {
          // an override must arrive fully resolved: folding a resolution
          // into the target without a durable log record would let a
          // later heal compute target < have and un-subtract completed
          // deletions (the round-8 drift class)
          require(logOverride.isEmpty,
            "healStats logOverride must be fully resolved against the " +
              s"${name}_dl table it heals against")
          resolved.write.mode("append").format("parquet")
            .saveAsTable(Tombstones.tableOf(name))
          graft.sink.CrashPoints.reached("lex.heal.resolved")
          spark.table(Tombstones.tableOf(name))
        }
      val target = withResolved
        .groupBy(col("id")).agg(max(col("dl")).as("dl"))
        .filter(col("dl").isNotNull)
        .agg(count(lit(1)).as("t_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("t_dl")).collect()(0)
      val have = spark.table(s"${name}_stats")
        .filter(col("n_docs") < 0 || col("sum_dl") < 0)
        .agg(coalesce(-sum(col("n_docs")), lit(0L)),
          coalesce(-sum(col("sum_dl")), lit(0L))).collect()(0)
      val (dDocs, dDl) = (target.getLong(0) - have.getLong(0),
        target.getLong(1) - have.getLong(1))
      if (dDocs != 0L || dDl != 0L) {
        import spark.implicits._
        Seq((-dDocs, -dDl)).toDF("n_docs", "sum_dl")
          .write.mode("append").format("parquet").saveAsTable(s"${name}_stats")
        graft.sink.CrashPoints.reached("lex.heal.delta")
      }
    }
  }

  /** Heal any interrupted staging-rename on the index's replaceTable-
    * managed tables before reading or appending: a crash in a compact's
    * (or the stats fold's) DROP→RENAME gap leaves the live name gone with
    * the completed snapshot under `__staging` — without this, the next
    * read throws Table-not-found and the next APPEND would create a fresh
    * empty table and orphan the staged generation, the same window
    * Tombstones' accessors already heal for the log (found by the
    * round-10 crash sweep). Three in-memory catalog lookups when clean. */
  private def healedTables(spark: SparkSession, name: String): Unit =
    Suffixes.foreach(s => Bucketed.healInterruptedReplace(spark, name + s))

  /** The index's tables: what a heal covers and a swap renames. */
  private val Suffixes = Seq("_postings", "_dl", "_stats")

  /** Append a batch of NEW documents into the existing layout — ONE
    * tokenize pass over the batch: postings materialize once, dl derives
    * from them ([[dlFromPostings]]), and the stats delta row is the
    * (count, Σdl) observed inside dl's materializing job. Every value is
    * derived BEFORE the first table is touched, so the appends only write.
    *
    * The appends fan on two driver threads: the postings append runs
    * beside the dl→stats chain, and within that chain dl lands before
    * stats, so the delta log never runs ahead of the doc lengths it
    * summarizes. Each of the three appends (`postings`, `dl`, `stats`)
    * runs inside `step(<table>)`. The default runs it unguarded — a
    * one-shot extend, whose crash is recovered by rebuilding. A caller
    * that must land each append exactly once passes a commit-log step
    * (LexIndexStream passes [[graft.streaming.CommitLog.step]]): a re-run
    * over the same `docs` then skips every table already marked and
    * re-derives the same rows and totals for the rest, so any torn state
    * of the fan — dl and stats durable with postings not, or the reverse —
    * converges to one append of each. */
  def extend(docs: DataFrame, name: String,
      step: String => (=> Unit) => Unit = _ => body => body): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    healedTables(spark, name)
    val postings = Materialize(postingsOf(docs.select(col("doc_id"), col("text"))))
    val (dl, totals) = Materialize.observed(dlFromPostings(postings),
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val delta = Seq((totals("n_docs").asInstanceOf[Long],
      Option(totals("sum_dl")).map(_.asInstanceOf[Long]))).toDF("n_docs", "sum_dl")
    // the named point opens a bucketed append BEFORE it writes: an armed
    // one tears the fan with that table un-landed (the torn-extend specs)
    def append(sfx: String, rows: DataFrame, key: String): Unit = step(sfx) {
      graft.sink.CrashPoints.reached(s"lex.extend.$sfx")
      Bucketed.appendBucketed(rows, s"${name}_$sfx", key)
    }
    graft.functions.Par.inParallel(Seq(
      () => append("postings", postings, "term"),
      () => {
        append("dl", dl, "doc_id")
        step("stats")(delta.write.mode("append").format("parquet")
          .saveAsTable(s"${name}_stats"))
      }))
  }

  /** BM25 top-k served FROM the index: same formula, constants, rounding,
    * and tie rule as [[TextStats.bm25On]], but every corpus-sized input is
    * an index scan — postings bucket-pruned to the query terms (the isin
    * filter, not a join, so the planner prunes buckets AND pushes the
    * predicate to parquet), df aggregated from those pruned postings, and
    * the doc-length join streams the dl table against the broadcast
    * score-candidate side. avgdl = Σ(stats.sum_dl)/Σ(stats.n_docs): long
    * sums are exact, the single division is IEEE-rounded, so it equals the
    * scratch path's avg(dl) bit-for-bit. */
  def bm25Against(spark: SparkSession, name: String,
      queries: Seq[(Int, String)] = TextStats.RetrievalQueries,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    healedTables(spark, name)
    val qterms = queries
      .flatMap { case (qid, s) => s.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val terms = queries.flatMap(_._2.split(" ")).distinct
    val stats = spark.table(s"${name}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    // merge-on-read: pending deletions drop out of the pruned postings
    // BEFORE df/score aggregation (df must count retained docs only); the
    // anti-join input is already cut to the query terms' buckets, so the
    // filter costs O(matched postings), and it is the identity when no
    // deletions are pending. n_docs/avgdl pick up deletions through the
    // negative stats deltas ([[delete]]).
    val tf = Materialize(Tombstones.filter(
      spark.table(s"${name}_postings").filter(col("term").isin(terms: _*)),
      name, "doc_id"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val cand = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), "term")
    spark.table(s"${name}_dl")
      .join(broadcast(cand), "doc_id")
      .withColumn("contrib",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"), round(sum(col("contrib")), 4).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_hit_terms"),
        col("score"), col("rn").cast("int").as("rn"))
  }

  /** Small-file compaction — the lexical member of the family
    * ([[DedupIndex.compact]], [[AnnIndex.compact]]): both bucketed tables
    * rewrite to one file per bucket via [[Bucketed.compactBucketed]], and
    * the stats delta log folds to a single running-total row (snapshotted
    * through [[Materialize]] before its own overwrite). Each bucketed
    * rewrite re-derives its table's width from its live rows and widens a
    * table the stream has outgrown ([[Bucketed.grownBuckets]]; never
    * narrower). Answer-preserving and idempotent — no marker needed in a
    * streaming loop. */
  def compact(spark: SparkSession, name: String): Unit = {
    // a prior compact may have died in ANY table's DROP→RENAME gap —
    // including the stats fold's, whose table this method reads directly
    // below (the round-10 crash sweep caught exactly that window)
    healedTables(spark, name)
    // the physical purge point: tombstoned postings and doc-lengths drop
    // out of the rewrite (their stats contribution was already subtracted
    // by [[delete]]'s negative deltas, which fold below), then the log
    // resets — answers unchanged vs the merge-on-read path.
    // Ordering, for crash safety: both purges, THEN the log reset, THEN
    // the stats fold. Any crash prefix heals — a stale log over purged
    // tables reconciles to a zero delta via the stored-dl target
    // ([[healStats]]), and an unfolded stats table already sums to the
    // right totals. Each rewrite runs staging-then-rename
    // ([[Bucketed.replaceTable]]), so no window can destroy a table.
    // the two purges rewrite DISJOINT tables and both precede the log
    // reset — fan them on driver threads (guide §2.6); each rewrite is
    // individually staging-then-rename crash-safe, and any crash prefix
    // of {both, one, neither} heals exactly as it did sequentially
    graft.functions.Par.inParallel(Seq(
      () => Bucketed.compactBucketed(spark, s"${name}_postings", "term",
        Tombstones.filter(_, name, "doc_id")),
      () => Bucketed.compactBucketed(spark, s"${name}_dl", "doc_id",
        Tombstones.filter(_, name, "doc_id"))))
    Tombstones.clear(spark, name)
    val t = s"${name}_stats"
    val folded = Materialize(spark.table(t)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
    Bucketed.replaceTable(spark, t, staging =>
      folded.write.format("parquet").saveAsTable(staging))
  }

  /** q179: build on one corpus slice, extend with the rest (content-bucket
    * split, q160's pattern), then serve BM25 from the index. The index then
    * covers exactly the full documents table, so the oracle is q176's
    * from-scratch SQL verbatim — index-served retrieval must be
    * indistinguishable from direct computation. */
  def indexGate(spark: SparkSession, dir: String): DataFrame =
    indexGateImpl(spark, dir, "graft_lex_idx", compactFirst = false)

  /** q180: q179 re-run through a COMPACTED index (the q171/q167
    * no-answer-change pattern) — build, extend, compact all three tables,
    * then serve. Same oracle as q179/q176. */
  def compactedGate(spark: SparkSession, dir: String): DataFrame =
    indexGateImpl(spark, dir, "graft_lex_cidx", compactFirst = true)

  /** q208: the DELETE gate — the strongest form the index family allows:
    * build on the FULL corpus, delete every doc with content bucket < 10,
    * then serve BM25 twice — merge-on-read (tombstone log + negative
    * stats deltas, index files untouched), and again after [[compact]]
    * physically purged the postings. The oracle is the from-scratch BM25
    * SQL computed directly over the RETAINED corpus — served retrieval
    * after a delete must be indistinguishable from an index that never
    * contained the deleted docs, score-for-score (df, n_docs and avgdl
    * all shift with the deletion; the negative delta's exact Long sums
    * are what make avgdl match bit-for-bit). */
  def deleteGate(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_lex_didx"
    // one corpus scan + content-bucket hash pass shared by the build and
    // the delete slice (the q228 discipline — un-materialized, each
    // consumer re-reads the source and re-hashes every text)
    val docs = Materialize(documents(spark, dir).select(col("doc_id"),
      col("text"), Sampling.contentBucket(col("text")).as("cb")))
    build(docs.select(col("doc_id"), col("text")), name, buckets = 8)
    delete(docs.filter(col("cb") < 10).select(col("doc_id")), name)
    val mor = Materialize(bm25Against(spark, name))
    compact(spark, name) // physical purge; stats deltas fold; log resets
    val purged = bm25Against(spark, name)
    mor.withColumn("leg", lit("mor"))
      .unionByName(purged.withColumn("leg", lit("purged")))
  }

  /** q221: the generation-swap gate for the LEXICAL family — q217's
    * deploy-the-rebuild pattern PLUS retention-across-swap: the live
    * generation is built STALE (content bucket ≥ 30 only), the staging
    * rebuild covers the full corpus, and a deletion batch (bucket < 10)
    * lands on the LIVE name after the staging snapshot — the docs aren't
    * even IN the stale live index yet, so the request logs at NULL dl.
    * After [[swapIn]], served BM25 must equal the from-scratch SQL over
    * the retained corpus (bucket ≥ 10): the swap must deploy the rebuild
    * (docs in [10,30) exist only in the new generation), carry the
    * pending deletions (bucket-<10 docs ARE in the rebuild — un-carried
    * they would resurrect), and re-anchor the stats subtraction to the
    * new generation's doc lengths (a wrongly-anchored heal shifts every
    * score via n_docs/avgdl — the oracle is score-exact, so it catches
    * that too). One query drives the whole round-9 swap machinery. */
  def swapGate(spark: SparkSession, dir: String): DataFrame = {
    val name = "graft_lex_sidx"
    val stg = name + "_stg"
    // one corpus scan + hash pass shared by both generation builds and
    // the delete slice (three consumers — the q228 discipline)
    val d = Materialize(documents(spark, dir).select(col("doc_id"),
      col("text"), Sampling.contentBucket(col("text")).as("cb")))
    // the live and staging generations are DISJOINT table sets — the two
    // builds fan on driver threads (the graft.functions.Par discipline;
    // production builds a staging generation while the live one serves)
    graft.functions.Par.inParallel(Seq(
      () => build(d.filter(col("cb") >= 30).select("doc_id", "text"),
        name, buckets = 8),
      () => build(d.select("doc_id", "text"), stg, buckets = 8)))
    delete(d.filter(col("cb") < 10).select(col("doc_id")), name)
    swapIn(spark, stg, name)
    bm25Against(spark, name)
  }

  private def indexGateImpl(spark: SparkSession, dir: String, name: String,
      compactFirst: Boolean): DataFrame = {
    // one corpus scan + hash pass shared by the build corpus and the
    // extend batch (the q228 discipline)
    val docs = Materialize(documents(spark, dir).select(col("doc_id"),
      col("text"), Sampling.contentBucket(col("text")).as("cb")))
    build(docs.filter(col("cb") >= 10).select(col("doc_id"), col("text")),
      name, buckets = 8)
    extend(docs.filter(col("cb") < 10).select(col("doc_id"), col("text")), name)
    if (compactFirst) compact(spark, name)
    bm25Against(spark, name)
  }
}

