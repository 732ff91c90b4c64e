package graft

import org.apache.spark.sql.functions._
import graft.analytics.{DedupIndex, LexIndex, Sampling}
import graft.sink.{CrashPoints, Tombstones}
import graft.sink.CrashPoints.CrashInjected

/** EVERY-prefix crash sweep for the retention state machine (round-9
  * VERDICT item 5): instead of hand-planted crash windows (RetentionSpec's
  * approach, which closed three windows across rounds 8–9 one finding at
  * a time), arm [[graft.sink.CrashPoints]] with a budget of k and kill the
  * REAL swap/compact/delete sequence after exactly k durable operations,
  * for ALL k — then run the documented recovery and assert convergence to
  * a from-scratch reference. An unarmed rehearsal counts the points, so
  * the sweep is exhaustive by construction and grows automatically with
  * any new durable op added to the sequence.
  *
  * Building the sweep exposed a real gap: a compact that died in the
  * stats fold's DROP→RENAME window left `<name>_stats` dangling under
  * `__staging`, and every reader (compact's own re-run, healStats,
  * bm25Against) threw Table-not-found with no self-healing path — closed
  * by LexIndex/DedupIndex healing their replaceTable-managed tables at
  * every entry point, the discipline Tombstones' accessors already
  * applied to the log. The "lex compact" sweep below kills exactly that
  * window (complete.dropped-live / complete.cleared-live on the stats
  * fold) among its prefixes.
  */
class CrashSweepSpec extends SparkSpec {

  // small fixed corpus: the sweep runs the full sequence O(N) times
  private lazy val corpus = Tables.documents(spark, sf("sf0.001"))
    .select(col("doc_id"), col("text"),
      Sampling.contentBucket(col("text")).as("cb"))
    .filter(col("doc_id") < 150)
    .localCheckpoint()

  private def statsTotals(n: String): (Long, Long) = {
    val r = spark.table(s"${n}_stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def bm25Set(n: String): Set[Seq[Any]] =
    LexIndex.bm25Against(spark, n).collect().map(_.toSeq).toSet

  /** Count points in `body` unarmed, then for every k < N: rebuild the
    * initial state, crash after k points, recover, verify. */
  private def sweep(label: String)(setup: () => Unit)(body: () => Unit)(
      recover: () => Unit)(verify: Int => Unit): Unit = {
    setup()
    CrashPoints.disarm()
    body()
    val n = CrashPoints.count
    assert(n >= 2, s"$label: expected several crash points, got $n")
    verify(-1) // the uncrashed run must converge too
    for (k <- 0L until n) {
      setup()
      CrashPoints.arm(k)
      val thrown = intercept[CrashInjected] { body() }
      CrashPoints.disarm()
      withClue(s"$label: recovery after crash at k=$k (${thrown.point}): ") {
        recover()
        verify(k.toInt)
      }
    }
    CrashPoints.disarm()
  }

  private def dropAll(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("lex generation swap converges from EVERY crash prefix") {
    val name = "swl_live"; val stg = "swl_stg"; val fresh = "swlref1"
    // reference: the post-swap index must equal a fresh build on the
    // corpus minus BOTH deletion batches (pre- and post-snapshot)
    LexIndex.build(corpus.filter(col("cb") >= 20).select("doc_id", "text"),
      fresh, buckets = 2)
    val refStats = statsTotals(fresh)
    val refServed = bm25Set(fresh)
    def setup(): Unit = {
      dropAll("swl_")
      LexIndex.build(corpus.select("doc_id", "text"), name, buckets = 2)
      // batch A known before the rebuild snapshot (rebuild excludes it)
      LexIndex.delete(corpus.filter(col("cb") < 10).select("doc_id"), name)
      LexIndex.build(corpus.filter(col("cb") >= 10).select("doc_id", "text"),
        stg, buckets = 2)
      // batch B lands after the snapshot (rebuild still contains it)
      LexIndex.delete(
        corpus.filter(col("cb") >= 10 && col("cb") < 20).select("doc_id"), name)
    }
    sweep("lex swap")(setup _)(() => LexIndex.swapIn(spark, stg, name))(
      () => LexIndex.swapIn(spark, stg, name)) { k =>
      assert(statsTotals(name) == refStats,
        s"stats drifted: ${statsTotals(name)} vs $refStats")
      assert(bm25Set(name) == refServed, "served BM25 drifted")
    }
  }

  test("lex compact (with pending deletions) converges from EVERY crash prefix") {
    val name = "swlc_idx"; val fresh = "swlcref"
    LexIndex.build(corpus.filter(col("cb") >= 15).select("doc_id", "text"),
      fresh, buckets = 2)
    val refStats = statsTotals(fresh)
    val refServed = bm25Set(fresh)
    def setup(): Unit = {
      dropAll(name)
      LexIndex.build(corpus.select("doc_id", "text"), name, buckets = 2)
      LexIndex.delete(corpus.filter(col("cb") < 15).select("doc_id"), name)
    }
    sweep("lex compact")(setup _)(() => LexIndex.compact(spark, name))(
      () => LexIndex.compact(spark, name)) { k =>
      assert(statsTotals(name) == refStats,
        s"stats drifted: ${statsTotals(name)} vs $refStats")
      assert(bm25Set(name) == refServed, "served BM25 drifted")
      assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
        "tombstone log not reset after recovered compact")
    }
  }

  test("dedup compact (with pending deletions) converges from EVERY crash prefix") {
    val name = "swdd_idx"; val fresh = "swddref"
    val probe = corpus.filter(col("cb") < 40).select("doc_id", "text")
      .withColumn("doc_id", col("doc_id") + lit(900000L))
    DedupIndex.build(corpus.filter(col("cb") >= 15).select("doc_id", "text"),
      fresh, buckets = 2)
    val ref = DedupIndex.nearDupsAgainst(spark, fresh, probe)
      .collect().map(_.toSeq).toSet
    def setup(): Unit = {
      dropAll(name)
      DedupIndex.build(corpus.select("doc_id", "text"), name, buckets = 2)
      DedupIndex.delete(corpus.filter(col("cb") < 15).select("doc_id"), name)
    }
    sweep("dedup compact")(setup _)(() => DedupIndex.compact(spark, name))(
      () => DedupIndex.compact(spark, name)) { k =>
      val got = DedupIndex.nearDupsAgainst(spark, name, probe)
        .collect().map(_.toSeq).toSet
      assert(got == ref, s"probe answers drifted after recovery")
      assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
        "tombstone log not reset after recovered compact")
    }
  }

  test("dedup compact re-grid (grid grown from the live rows) converges from EVERY crash prefix") {
    val name = "swdg_idx"; val fresh = "swdgref"
    val probe = corpus.filter(col("cb") < 40).select("doc_id", "text")
      .withColumn("doc_id", col("doc_id") + lit(900000L))
    val live = corpus.filter(col("cb") >= 15).select("doc_id", "text")
    DedupIndex.build(live, fresh, buckets = 2, estThreshold = 0.6)
    val ref = DedupIndex.nearDupsAgainst(spark, fresh, probe)
      .collect().map(_.toSeq).toSet
    // a target four live-row slices wide: the compact re-grids the
    // one-slice build through the staging replace
    val target = (live.count() * 16 + 3) / 4
    def setup(): Unit = {
      dropAll(name)
      DedupIndex.build(corpus.select("doc_id", "text"), name, buckets = 2,
        parts = 1, estThreshold = 0.6)
      DedupIndex.delete(corpus.filter(col("cb") < 15).select("doc_id"), name)
    }
    spark.conf.set("spark.graft.dedup.rows.per.slice", target.toString)
    try sweep("dedup re-grid")(setup _)(() => DedupIndex.compact(spark, name))(
      () => DedupIndex.compact(spark, name)) { k =>
      val got = DedupIndex.nearDupsAgainst(spark, name, probe)
        .collect().map(_.toSeq).toSet
      assert(got == ref, s"probe answers drifted after recovery")
      assert(graft.sink.Bucketed.partsOf(spark, s"${name}_bands") == 4,
        "recovered compact did not land the grown grid")
      assert(DedupIndex.storedEst(spark, name) == 0.6,
        "recovered re-grid lost the verify threshold")
      assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
        "tombstone log not reset after recovered compact")
    }
    finally spark.conf.unset("spark.graft.dedup.rows.per.slice")
  }

  test("lex delete (append + heal) converges from EVERY crash prefix") {
    val name = "swld_idx"; val fresh = "swldref"
    LexIndex.build(corpus.filter(col("cb") >= 25).select("doc_id", "text"),
      fresh, buckets = 2)
    val refStats = statsTotals(fresh)
    val refServed = bm25Set(fresh)
    val batch = corpus.filter(col("cb") < 25).select("doc_id")
    def setup(): Unit = {
      dropAll(name)
      LexIndex.build(corpus.select("doc_id", "text"), name, buckets = 2)
    }
    // recovery for a crashed delete is REPLAYING the request — the
    // RetentionStream at-least-once contract
    sweep("lex delete")(setup _)(() => LexIndex.delete(batch, name))(
      () => LexIndex.delete(batch, name)) { k =>
      assert(statsTotals(name) == refStats,
        s"stats drifted: ${statsTotals(name)} vs $refStats")
      assert(bm25Set(name) == refServed, "served BM25 drifted")
    }
  }

  test("lex stream extend torn with dl and stats durable, postings not, converges on replay") {
    import graft.streaming.LexIndexStream
    val name = "swlx_idx"; val fresh = "swlxref"
    val base = corpus.filter(col("cb") >= 25).select("doc_id", "text")
    val batch = corpus.filter(col("cb") < 25).select("doc_id", "text")
    LexIndex.build(corpus.select("doc_id", "text"), fresh, buckets = 2)
    LexIndex.build(base, name, buckets = 2)
    val work = java.nio.file.Files.createTempDirectory("swlx").toString
    // one targeted case, not a prefix sweep: the postings leg dies before
    // its append while the fail-slow fan lands the dl→stats chain
    CrashPoints.armAt("lex.extend.postings")
    try intercept[CrashInjected](
      LexIndexStream.processBatch(spark, name, batch, 0L, work))
    finally CrashPoints.disarm()
    assert(statsTotals(name) == statsTotals(fresh), "dl and stats did not land")
    assert(spark.table(s"${name}_postings").count() <
      spark.table(s"${fresh}_postings").count(), "postings landed")
    LexIndexStream.processBatch(spark, name, batch, 0L, work)
    assert(statsTotals(name) == statsTotals(fresh),
      s"stats drifted: ${statsTotals(name)} vs ${statsTotals(fresh)}")
    assert(spark.table(s"${name}_postings").count() ==
      spark.table(s"${fresh}_postings").count(), "postings not appended exactly once")
    assert(bm25Set(name) == bm25Set(fresh), "served BM25 drifted")
  }

  test("clustered extend (merge into the persisted cluster map) converges from EVERY crash prefix") {
    val name = "swcx_idx"; val ref = "swcxref"
    // small slices: the sweep replays build+extend once per prefix, so
    // corpus size multiplies directly into suite wall-clock
    val base = corpus.filter(col("doc_id") < 60).select("doc_id", "text")
    val batch = corpus.filter(col("doc_id") >= 60 && col("doc_id") < 80)
      .select("doc_id", "text").localCheckpoint()
    def cmap(n: String): Map[Long, Long] =
      DedupIndex.clusterMap(spark, n).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: a from-scratch CLUSTERED build on the union corpus
    dropAll("swcx")
    DedupIndex.buildClustered(base.unionByName(batch), ref, buckets = 2)
    val refMap = cmap(ref)
    def setup(): Unit = {
      dropAll(name)
      DedupIndex.buildClustered(base, name, buckets = 2)
    }
    // recovery for a torn extend is REPLAYING the batch (the
    // DedupIndexStream at-least-once contract) — every prefix must land
    // on the same resolved map as the from-scratch build
    sweep("clustered extend")(setup _)(
      () => DedupIndex.extend(batch, name))(
      () => DedupIndex.extend(batch, name)) { k =>
      assert(cmap(name) == refMap,
        "recovered cluster map differs from the from-scratch build")
    }
  }

  test("clustered delete (split/orphan repair) converges from EVERY crash prefix") {
    import spark.implicits._
    val name = "swcd_idx"; val ref = "swcdref"
    def toks(from: Int, to: Int) = (from to to).map(i => s"cw$i").mkString(" ")
    // the 3-doc bridge chain (DedupIndexSpec's construction): deleting B
    // must SPLIT {A, C} — precisely the state a tombstone filter cannot
    // reach, so every crash prefix must still converge to the split
    val chain = Seq((8000001L, toks(1, 12)), (8000002L, toks(3, 14)),
      (8000003L, toks(5, 16)), (8000005L, toks(21, 32)))
      .toDF("doc_id", "text").localCheckpoint()
    val base = corpus.filter(col("doc_id") < 40).select("doc_id", "text")
      .unionByName(chain).localCheckpoint()
    // the extend merges a SMALLER id into 8000005's cluster, so the label
    // map carries a live entry (8000005 → 7000000); deleting 8000005 then
    // dissolves that root — the repair's map-cleanup branch is in the
    // swept sequence, not just the relabel
    val batch = Seq((7000000L, toks(21, 32))).toDF("doc_id", "text")
      .localCheckpoint()
    val gone = Seq(8000002L, 8000005L).toDF("doc_id").localCheckpoint()
    def cmap(n: String): Map[Long, Long] =
      DedupIndex.clusterMap(spark, n).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    dropAll("swcd")
    DedupIndex.buildClustered(
      base.unionByName(batch).filter(!col("doc_id").isin(8000002L, 8000005L)),
      ref, buckets = 2)
    val refMap = cmap(ref)
    def setup(): Unit = {
      dropAll(name)
      DedupIndex.buildClustered(base, name, buckets = 2)
      DedupIndex.extend(batch, name)
    }
    sweep("clustered delete")(setup _)(
      () => DedupIndex.delete(gone, name))(
      () => DedupIndex.delete(gone, name)) { k =>
      assert(cmap(name) == refMap,
        "recovered cluster map differs from a build on the retained corpus")
    }
  }

  test("ann-index purge (physical rewrite of affected cells) converges from EVERY crash prefix") {
    import graft.analytics.AnnIndex
    val name = "swap_ann"
    val vecs = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 150).localCheckpoint()
    val gone = vecs.filter(col("vec_id") >= 120).select(col("vec_id"))
      .localCheckpoint()
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def serveSet(): Set[Seq[Any]] =
      AnnIndex.topKAgainst(spark, name, q, k = 3)
        .collect().map(_.toSeq).toSet
    // reference: the purge must not change a single merge-on-read answer
    dropAll(name)
    AnnIndex.build(vecs, name, numCentroids = 8)
    AnnIndex.delete(gone, name)
    val refServed = serveSet()
    def setup(): Unit = {
      dropAll(name)
      AnnIndex.build(vecs, name, numCentroids = 8)
      AnnIndex.delete(gone, name)
    }
    sweep("ann purge")(setup _)(
      () => AnnIndex.purgeTombstones(spark, name))(
      () => AnnIndex.purgeTombstones(spark, name)) { k =>
      assert(serveSet() == refServed, "served top-k drifted")
      assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
        "tombstone log not reset after recovered purge")
      val rawIds = spark.read.parquet(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst
            .TableIdentifier(s"${name}_cells")).location.toString)
        .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
      assert(rawIds.intersect(goneIds).isEmpty,
        "purged vectors still at rest after recovery")
    }
  }

  test("ann-index quantizer refresh (retrain + staged build + swap) converges from EVERY crash prefix") {
    import graft.analytics.AnnIndex
    val name = "swrf_ann"; val ref = "swrfref"
    val vecs = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 150).localCheckpoint()
    val gone = vecs.filter(col("vec_id") >= 140).select(col("vec_id"))
      .localCheckpoint()
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // reference: a from-scratch refresh on a twin index — integer-lattice
    // Lloyd is deterministic on the same retained vector set, so the
    // recovered index must equal it cell-for-cell (the pending deletion
    // is excluded from the rebuild snapshot on both)
    dropAll("swrf")
    AnnIndex.build(vecs, ref, numCentroids = 8)
    AnnIndex.delete(gone, ref)
    AnnIndex.refreshQuantizer(spark, ref, k = 8, iters = 2)
    def cellsOf(n: String): Map[Long, Long] =
      spark.table(s"${n}_cells").select(col("vec_id"), col("cid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def served(n: String): Set[Seq[Any]] =
      AnnIndex.topKAgainst(spark, n, q, k = 3).collect().map(_.toSeq).toSet
    val refCells = cellsOf(ref)
    val refServed = served(ref)
    def setup(): Unit = {
      dropAll(name)
      AnnIndex.build(vecs, name, numCentroids = 8)
      AnnIndex.delete(gone, name)
    }
    // this sweep's prefixes include the RENAME→re-anchor seam on the
    // PARTITIONED cells table (round-10 ADVICE): a recovery that read the
    // stale partition locations would retrain on zero rows and deploy an
    // empty index — refreshQuantizer's resume-before-read closes it
    sweep("ann refresh")(setup _)(
      () => AnnIndex.refreshQuantizer(spark, name, k = 8, iters = 2))(
      () => AnnIndex.refreshQuantizer(spark, name, k = 8, iters = 2)) { k =>
      assert(cellsOf(name) == refCells,
        "recovered cell assignments differ from the from-scratch refresh")
      assert(served(name) == refServed, "served top-k drifted after recovery")
    }
  }

  test("graph-index generation swap converges from EVERY crash prefix") {
    import graft.analytics.AnnGraphIndex
    val name = "swgs_live"; val stg = "swgs_stg"
    val vecs = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 120).localCheckpoint()
    // the staged generation carries plants the live one lacks — the swap
    // is only correct if ALL THREE tables deploy together (a mixed
    // generation would lose either the plants' vectors or their edges)
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val planted = q.select((col("query_id") + 600000L).as("vec_id"),
      expr("transform(qv, x -> x * 2.0d)").as("v")).localCheckpoint()
    def top1(): Seq[(Long, Long, Double)] =
      AnnGraphIndex.topKAgainst(spark, name, q, k = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def setup(): Unit = {
      dropAll("swgs_")
      AnnGraphIndex.build(vecs, name, k = 4, rounds = 1, numCentroids = 8,
        buckets = 2)
      AnnGraphIndex.build(vecs.unionByName(planted), stg, k = 4, rounds = 1,
        numCentroids = 8, buckets = 2)
    }
    sweep("graph swap")(setup _)(
      () => AnnGraphIndex.swapIn(spark, stg, name))(
      () => AnnGraphIndex.swapIn(spark, stg, name)) { k =>
      val t = top1()
      assert(t.size == 5 &&
        t.forall { case (qid, n, s) => n == qid + 600000L && s == 1.0 },
        s"staged generation not fully serving after recovery: $t")
    }
  }

  test("graph-index compact (purge) converges from EVERY crash prefix") {
    import graft.analytics.AnnGraphIndex
    val name = "swga_idx"
    val vecs = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 150).localCheckpoint()
    val gone = vecs.filter(col("vec_id") >= 120).select(col("vec_id"))
      .localCheckpoint()
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def serveSet(): Set[Seq[Any]] =
      AnnGraphIndex.topKAgainst(spark, name, q, k = 3)
        .collect().map(_.toSeq).toSet
    // reference: compaction must not change a single served answer — the
    // merge-on-read result BEFORE the purge is the contract (q47/q167
    // no-answer-change pattern; a fresh retained build would retrain the
    // quantizer and is deliberately NOT the reference)
    dropAll("swga_")
    AnnGraphIndex.build(vecs, name, k = 4, rounds = 1, numCentroids = 8,
      buckets = 2)
    AnnGraphIndex.delete(gone, name)
    val refServed = serveSet()
    def setup(): Unit = {
      dropAll("swga_")
      AnnGraphIndex.build(vecs, name, k = 4, rounds = 1, numCentroids = 8,
        buckets = 2)
      AnnGraphIndex.delete(gone, name)
    }
    sweep("graph compact")(setup _)(
      () => AnnGraphIndex.compact(spark, name))(
      () => AnnGraphIndex.compact(spark, name)) { k =>
      assert(serveSet() == refServed, "served top-k drifted")
      assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
        "tombstone log not reset after recovered compact")
      def rawIds(t: String, c: String): Set[Long] =
        spark.read.parquet(spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString)
          .select(col(c)).distinct().collect().map(_.getLong(0)).toSet
      assert(rawIds(s"${name}_vectors", "vec_id").intersect(goneIds).isEmpty &&
        rawIds(s"${name}_edges", "src").intersect(goneIds).isEmpty &&
        rawIds(s"${name}_edges", "dst").intersect(goneIds).isEmpty,
        "purged endpoints still at rest after recovery")
    }
  }
}
