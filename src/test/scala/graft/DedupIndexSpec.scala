package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.analytics.{Dedup, DedupIndex, Sampling}

/** Persisted MinHash index + incremental batch dedup (q160). */
class DedupIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Spark jobs of one DedupIndexStream batch (probe, survivor write,
    * extend, full compaction) on a one-slice index. The `_bands` rewrite's
    * slice set and row total are observed by its snapshot job
    * (`Materialize.observed`), not by a count of their own (25 before). */
  private val DedupBatchJobs = 23

  private def docs = Tables.documents(spark, sf("sf0.01"))
    .select(col("doc_id"), col("text"),
      Sampling.contentBucket(col("text")).as("cb"))

  test("incremental ≡ recompute: index query equals batch LSH on cross pairs") {
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    val batch  = docs.filter(col("cb") < 10).select("doc_id", "text")
    DedupIndex.build(corpus, "spec_idx_eq", buckets = 4)
    val inc = DedupIndex.nearDupsAgainst(spark, "spec_idx_eq", batch, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // ground truth: full-corpus minhashLsh restricted to (corpus × batch)
    val ids = docs.select(col("doc_id"), (col("cb") < 10).as("is_batch"))
    val full = Dedup.minhashLsh(spark, sf("sf0.01"), 0.5)
      .join(ids.select(col("doc_id").as("doc_a"), col("is_batch").as("ba")), "doc_a")
      .join(ids.select(col("doc_id").as("doc_b"), col("is_batch").as("bb")), "doc_b")
      .filter(col("ba") =!= col("bb"))
      .select(when(col("ba"), col("doc_b")).otherwise(col("doc_a")).as("corpus_id"),
        when(col("ba"), col("doc_a")).otherwise(col("doc_b")).as("new_id"),
        col("est_jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"incremental ${inc.size} pairs vs recompute ${full.size}")
  }

  test("derived partition grid: parts sizes from the corpus; answers unchanged vs fixed grid") {
    import spark.implicits._
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    val batch  = docs.filter(col("cb") < 10).select("doc_id", "text")
    // clamp boundaries of the pure derivation first: an index that fits
    // one slice gets ONE, the next row opens a second
    assert(DedupIndex.derivedParts(spark, 0L) == 1, "floor")
    assert(DedupIndex.derivedParts(spark, 4L << 20) == 1, "one full slice")
    assert(DedupIndex.derivedParts(spark, (4L << 20) + 1) == 2, "first split")
    assert(DedupIndex.derivedParts(spark, Long.MaxValue / 2) == 32768, "ceiling")
    // a tiny rows-per-slice target forces the derivation OFF the one-slice
    // floor at spec scale — the layout the 100 TB scaladoc promises, exercised
    spark.conf.set("spark.graft.dedup.rows.per.slice", "100")
    try DedupIndex.build(corpus, "spec_idx_grid", buckets = 4)
    finally spark.conf.unset("spark.graft.dedup.rows.per.slice")
    val derived = graft.sink.Bucketed.partsOf(spark, "spec_idx_grid_bands")
    val expected = math.max(1L, math.min(32768L,
      (corpus.count() * 16 + 99) / 100)).toInt
    assert(derived == expected && derived > 1,
      s"derived grid $derived (expected $expected, above the floor)")
    // the non-default grid changes LAYOUT only: probe answers must match a
    // fixed-64 build of the same corpus exactly
    DedupIndex.build(corpus, "spec_idx_grid64", buckets = 4, parts = 64)
    val a = DedupIndex.nearDupsAgainst(spark, "spec_idx_grid", batch, 0.5)
      .collect().map(_.toSeq).toSet
    val b = DedupIndex.nearDupsAgainst(spark, "spec_idx_grid64", batch, 0.5)
      .collect().map(_.toSeq).toSet
    assert(a == b, s"grid=$derived answers diverge from grid=64")
  }

  test("verify threshold is a build-time property: bare probes read it, explicit wins") {
    import spark.implicits._
    // 20 distinct words → 18 trigram shingles; the batch twin appends 10
    // words → 28 shingles sharing 18: exact J ≈ 0.64, so the MinHash
    // estimate lands far from both gates below (deterministic — the
    // signature is hash-derived, no randomness)
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    val twin = words + " " + (1 to 10).map(i => s"x$i").mkString(" ")
    val corpus = Seq((1L, words)).toDF("doc_id", "text")
    val batch = Seq((100L, twin)).toDF("doc_id", "text")
    // built STRICT: the bare probe must apply 0.95 and reject the pair —
    // the pre-round-13 behavior (hardcoded 0.5 default) would return it
    DedupIndex.build(corpus, "spec_idx_est_hi", buckets = 4, estThreshold = 0.95)
    assert(DedupIndex.nearDupsAgainst(spark, "spec_idx_est_hi", batch).count() == 0,
      "bare probe ignored the persisted 0.95 verify threshold")
    // explicit always wins over the stored value
    assert(DedupIndex.nearDupsAgainst(spark, "spec_idx_est_hi", batch, 0.3).count() == 1,
      "explicit threshold did not override the stored one")
    // built LAX: the streaming loop's bare probe must read 0.3 and dedup
    // the twin — the old hardcoded 0.9 stream default would keep it
    DedupIndex.build(corpus, "spec_idx_est_lo", buckets = 4, estThreshold = 0.3)
    val tmp = java.nio.file.Files.createTempDirectory("spec_est_stream").toString
    streaming.DedupIndexStream.processBatch(spark, "spec_idx_est_lo",
      batch, 0L, tmp)
    val survivors = spark.read.parquet(s"$tmp/b=0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(!survivors.contains(100L),
      "stream bare probe ignored the persisted lax threshold")
  }

  test("targeted compaction: only over-threshold slices rewritten; answers unchanged; log retained") {
    import spark.implicits._
    val name = "spec_idx_tc"
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    DedupIndex.build(corpus, name, buckets = 4, parts = 64)
    // one SINGLE-doc extend: its ~16 band keys land in ≤16 of 64 slices,
    // so the layout has a clear touched/untouched split
    val src = corpus.orderBy(col("doc_id")).limit(2).collect()
    DedupIndex.extend(Seq((9500001L, src(0).getString(1)))
      .toDF("doc_id", "text"), name)
    def files(): Map[String, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands")).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("pb="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet).toMap
    }
    val before = files()
    val touched = before.filter(_._2.size > 1).keySet
    val untouched = before.filter(_._2.size == 1).keySet
    assert(touched.nonEmpty && untouched.nonEmpty,
      s"layout has no touched/untouched split — vacuous: ${before.view.mapValues(_.size).toMap}")
    // two pending deletions: the extended copy's TWIN (its band rows all
    // live in touched slices — fully purgeable by the targeted pass) and
    // an unrelated doc (most of its rows live in untouched slices — they
    // must SURVIVE at rest, masked by the retained log)
    DedupIndex.delete(Seq(src(0).getLong(0), src(1).getLong(0))
      .toDF("doc_id"), name)
    val probe = Seq((9600001L, src(1).getString(1))).toDF("doc_id", "text")
    val answersBefore = DedupIndex.nearDupsAgainst(spark, name, probe, 0.5)
      .collect().map(_.toSeq).toSet
    val plan = DedupIndex.compactOverThreshold(spark, name, threshold = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(plan.forall(_._1 == "bands"), "non-clustered index planned a pfx pass")
    assert(plan.filter(_._4).map(p => s"pb=${p._2}").toSet == touched,
      "the plan's selection does not match the physical over-threshold slices")
    val after = files()
    touched.foreach(d => assert(after(d).size == 1, s"selected slice $d not compacted"))
    untouched.foreach(d => assert(after(d) == before(d),
      s"unselected slice $d was rewritten"))
    // answers unchanged through the targeted pass
    val answersAfter = DedupIndex.nearDupsAgainst(spark, name, probe, 0.5)
      .collect().map(_.toSeq).toSet
    assert(answersAfter == answersBefore, "targeted compaction changed an answer")
    // purge semantics: the twin-adjacent doc's rows are gone from the
    // rewritten slices; the unrelated doc keeps rows at rest in untouched
    // slices; the log is NOT cleared (full compact remains the purge point)
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands")).location
    val atRest = spark.read.parquet(loc.toString)
      .filter(col("doc_id").isin(src(0).getLong(0), src(1).getLong(0)))
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(!atRest.contains(src(0).getLong(0)),
      "tombstoned rows survived in rewritten slices")
    assert(atRest.contains(src(1).getLong(0)),
      "targeted pass purged slices it should not have read")
    assert(graft.sink.Tombstones.of(spark, name).isDefined,
      "targeted pass cleared the tombstone log")
  }

  test("extend appends into the same layout; build(A)+extend(B) ≡ build(A∪B)") {
    val a = docs.filter(col("cb") >= 50).select("doc_id", "text")
    val b = docs.filter(col("cb") >= 10 && col("cb") < 50).select("doc_id", "text")
    val batch = docs.filter(col("cb") < 10).select("doc_id", "text")
    DedupIndex.build(a, "spec_idx_ext", buckets = 4)
    DedupIndex.extend(b, "spec_idx_ext")
    DedupIndex.build(a.unionByName(b), "spec_idx_all", buckets = 4)
    val viaExtend = DedupIndex.nearDupsAgainst(spark, "spec_idx_ext", batch)
      .collect().map(_.toSeq).toSet
    val viaRebuild = DedupIndex.nearDupsAgainst(spark, "spec_idx_all", batch)
      .collect().map(_.toSeq).toSet
    assert(viaExtend == viaRebuild)
    // the appended files really landed in the bucketed layout (one table,
    // not a side path): the catalog spec still says 4 buckets
    val cat = spark.sql("DESCRIBE EXTENDED spec_idx_ext_sigs")
      .filter(col("col_name") === "Num Buckets").collect()
    assert(cat.length == 1 && cat(0).getString(1).trim == "4")
  }

  test("plan: index tables are never shuffled — batch side broadcasts") {
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    val batch  = docs.filter(col("cb") < 10).select("doc_id", "text")
    DedupIndex.build(corpus, "spec_idx_plan", buckets = 4)
    val q = DedupIndex.nearDupsAgainst(spark, "spec_idx_plan", batch)
    q.count() // run so AQE finalizes
    val plan = q.queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    // every shuffle must carry candidate PAIRS (map-side partial distinct
    // directly beneath it), never raw index rows — so shuffled bytes are
    // bounded by band collisions, not by the 100 TB corpus
    shuffles.foreach { e =>
      assert(e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec],
        s"shuffle input is not the pair-distinct partial aggregate:\n$e")
    }
    assert(shuffles.nonEmpty, "expected the candidate distinct shuffle")
    // and the index scans stream through broadcast joins — no sort-merge
    assert(!plan.toString.contains("SortMergeJoin"),
      "index join must broadcast the batch side")
  }

  test("q160 gate: every planted copy found on both build and extend legs") {
    val out = DedupIndex.incrementalGate(spark, sf("sf0.01")).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("found")), {
      val missing = out.filterNot(_.getAs[Boolean]("found")).map(_.getLong(0))
      s"planted copies not found: ${missing.mkString(",")}"
    })
    assert(out.forall(r => r.getLong(0) - r.getLong(1) == 10000000L))
  }

  test("compaction: one file per bucket/partition, specs preserved, answers unchanged") {
    import scala.jdk.CollectionConverters._
    val a = docs.filter(col("cb") >= 50).select("doc_id", "text")
    val b = docs.filter(col("cb") >= 30 && col("cb") < 50).select("doc_id", "text")
    val c = docs.filter(col("cb") >= 10 && col("cb") < 30).select("doc_id", "text")
    val batch = docs.filter(col("cb") < 10).select("doc_id", "text")
    DedupIndex.build(a, "spec_idx_cmp", buckets = 4, parts = 8)
    DedupIndex.extend(b, "spec_idx_cmp")
    DedupIndex.extend(c, "spec_idx_cmp")
    def files(t: String): Int = {
      // recursive — _bands keeps its files under pb=v partition dirs
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(loc))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val before = (files("spec_idx_cmp_sigs"), files("spec_idx_cmp_bands"))
    info(s"files before compaction: $before")
    assert(before._1 > 4 && before._2 > 8,
      s"extends produced no small files — test is vacuous: $before")
    val baseline = DedupIndex.nearDupsAgainst(spark, "spec_idx_cmp", batch)
      .collect().map(_.toSeq).toSet

    DedupIndex.compact(spark, "spec_idx_cmp")
    val nParts = spark.table("spec_idx_cmp_bands")
      .select(col("pb")).distinct().count().toInt
    assert(files("spec_idx_cmp_sigs") == 4 &&
      files("spec_idx_cmp_bands") == nParts,
      s"expected one file per bucket/partition after compaction: " +
        s"${(files("spec_idx_cmp_sigs"), files("spec_idx_cmp_bands"))} vs (4, $nParts)")
    // the bucket spec survives, so the probe plan stays exchange-free;
    // the partition modulus property survives, so later probes/extends
    // derive pb with the same hash slice
    val cat = spark.sql("DESCRIBE EXTENDED spec_idx_cmp_sigs")
      .filter(col("col_name") === "Num Buckets").collect()
    assert(cat.length == 1 && cat(0).getString(1).trim == "4")
    assert(graft.sink.Bucketed.partsOf(spark, "spec_idx_cmp_bands") == 8,
      "compaction lost the partition-modulus property")
    val after = DedupIndex.nearDupsAgainst(spark, "spec_idx_cmp", batch)
      .collect().map(_.toSeq).toSet
    assert(after == baseline, "compaction changed an answer")
  }

  test("plan: the bands probe scan is dynamically partition-pruned by the batch") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    val batch = docs.filter(col("cb") < 3).select("doc_id", "text")
    DedupIndex.build(corpus, "spec_idx_dpp", buckets = 4, parts = 64)
    val q = DedupIndex.nearDupsAgainst(spark, "spec_idx_dpp", batch)
    q.count() // execute so AQE + DPP finalize
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.toString.contains("spec_idx_dpp_bands") => s
    }
    assert(scans.nonEmpty, "bands scan not found")
    assert(scans.exists(_.toString.contains("dynamicpruning")),
      s"bands scan lacks a dynamic pruning filter:\n${scans.map(_.toString).mkString}")
  }

  test("streaming auto-compaction: every Nth batch rewrites to one file per bucket") {
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    val tmp = java.nio.file.Files.createTempDirectory("didx_auto").toString
    // an explicit multi-slice grid: the default one derives a single slice
    // at spec scale, which would not exercise per-slice file collapse
    DedupIndex.build(docs.filter(col("cb") >= 50).select("doc_id", "text"),
      "spec_idx_auto", buckets = 4, parts = 16)
    val fresh = docs.filter(col("cb") >= 20 && col("cb") < 50)
      .select("doc_id", "text").limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    DedupIndexStream.processBatch(spark, "spec_idx_auto",
      fresh.take(10).toSeq.toDF("doc_id", "text"), 0L, tmp, compactEvery = 2)
    DedupIndexStream.processBatch(spark, "spec_idx_auto",
      fresh.drop(10).toSeq.toDF("doc_id", "text"), 1L, tmp, compactEvery = 2)
    def files(t: String): Int = {
      import scala.jdk.CollectionConverters._
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(loc))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val nParts = spark.table("spec_idx_auto_bands")
      .select(col("pb")).distinct().count().toInt
    assert(files("spec_idx_auto_sigs") == 4 &&
      files("spec_idx_auto_bands") == nParts,
      s"batch 1 (compactEvery=2) must leave one file per bucket/partition: " +
        s"${(files("spec_idx_auto_sigs"), files("spec_idx_auto_bands"))} vs (4, $nParts)")
    // the compacted index still catches a copy of a streamed survivor
    val b2 = Seq((9300001L, fresh(3)._2)).toDF("doc_id", "text")
    DedupIndexStream.processBatch(spark, "spec_idx_auto", b2, 2L, tmp, compactEvery = 2)
    val s2 = spark.read.parquet(s"$tmp/b=2").count()
    assert(s2 == 0L, "copy of a pre-compaction survivor must not survive")
  }

  test("standing loop, targeted cadence: layout re-bounded, answers ≡ from-scratch, log survives until the full compact") {
    // round-13 VERDICT item 3: the stream loop's standing maintenance is
    // now the THRESHOLD-scoped pass (rewrite only the slices ingest
    // actually grew), with the full compact demoted to a coarser cadence
    // as the log-retiring purge point.
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    val name = "spec_idx_tgt_loop"
    val tmp = java.nio.file.Files.createTempDirectory("didx_tgt").toString
    val base = docs.filter(col("cb") >= 50).select("doc_id", "text")
    // an explicit multi-slice grid, so the targeted pass has slices to
    // choose between (the derived default is one slice at spec scale)
    DedupIndex.build(base, name, buckets = 4, parts = 16)
    val fresh = docs.filter(col("cb") >= 20 && col("cb") < 50)
      .select("doc_id", "text").limit(26).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def runBatch(i: Int, rows: Seq[(Long, String)]): Unit =
      DedupIndexStream.processBatch(spark, name, rows.toDF("doc_id", "text"),
        i.toLong, tmp, targetedEvery = 2, fileThreshold = 1, compactEvery = 5)
    def bandsFileCounts(): Map[String, Int] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands")).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("pb="))
        .map(d => d.getName -> d.listFiles()
          .count(_.getName.endsWith(".parquet"))).toMap
    }
    runBatch(0, fresh.slice(0, 6).toSeq)
    runBatch(1, fresh.slice(6, 12).toSeq) // targeted fires: (1+1) % 2 == 0
    assert(bandsFileCounts().values.forall(_ == 1),
      s"targeted cadence left over-threshold slices: ${bandsFileCounts()}")
    // pending deletions mid-loop: two BASE docs leave via the request path
    val gone = base.orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    DedupIndex.delete(gone.toDF("doc_id"), name)
    runBatch(2, fresh.slice(12, 18).toSeq) // nothing fires
    runBatch(3, fresh.slice(18, 24).toSeq) // targeted fires again
    assert(graft.sink.Tombstones.of(spark, name).isDefined,
      "the targeted cadence must RETAIN the tombstone log (full compact purges)")
    assert(bandsFileCounts().values.forall(_ == 1),
      s"second targeted pass left over-threshold slices: ${bandsFileCounts()}")
    // N micro-batches + targeted cadence ≡ from-scratch: a twin built on
    // base ∪ all committed survivors with the same pending deletions must
    // answer identically on a mixed probe (copies of survivors + copies of
    // the deleted docs)
    val survivors = (0 to 3).map(i => spark.read.parquet(s"$tmp/b=$i")
      .select(col("doc_id"), col("text"))).reduce(_ unionByName _)
    DedupIndex.build(base.unionByName(survivors), "spec_idx_tgt_twin", buckets = 4)
    DedupIndex.delete(gone.toDF("doc_id"), "spec_idx_tgt_twin")
    val probe = base.filter(col("doc_id").isin(gone: _*))
      .unionByName(survivors.orderBy(col("doc_id")).limit(3))
      .select((col("doc_id") + 9700000L).as("doc_id"), col("text"))
    val loopAns = DedupIndex.nearDupsAgainst(spark, name, probe, 0.5)
      .collect().map(_.toSeq).toSet
    val twinAns = DedupIndex.nearDupsAgainst(spark, "spec_idx_tgt_twin", probe, 0.5)
      .collect().map(_.toSeq).toSet
    assert(loopAns == twinAns,
      s"loop answers diverge from from-scratch: $loopAns vs $twinAns")
    // the coarser full-compact cadence is the purge point: batch 4 fires
    // compactEvery=5 ((4+1) % 5 == 0), retiring the log and the bytes
    runBatch(4, fresh.slice(24, 26).toSeq)
    assert(graft.sink.Tombstones.of(spark, name).isEmpty,
      "full compact did not retire the log")
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands")).location
    assert(spark.read.parquet(loc.toString)
      .filter(col("doc_id").isin(gone: _*)).count() == 0,
      "full compact left tombstoned rows at rest")
  }

  test("growth re-grid: compact widens a small-built grid; answers ≡ from-scratch; probe still DPP-pruned") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sink.{Bucketed, Tombstones}
    val name = "spec_idx_grow"
    val small = docs.filter(col("cb") >= 80).select("doc_id", "text")
    val more = docs.filter(col("cb") >= 10 && col("cb") < 80).select("doc_id", "text")
    val gone = small.orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    // organic probe plus planted copies: of two extended docs (must be
    // found) and of the two deleted ones (purged through the re-grid)
    val kept = more.orderBy(col("doc_id")).limit(2).collect().map(_.getLong(0)).toSeq
    val batch = docs.filter(col("cb") < 3).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id").isin(gone ++ kept: _*))
        .select((col("doc_id") + 9800000L).as("doc_id"), col("text")))
    // a target the small build exactly fills: it derives ONE slice
    val target = small.count() * 16
    spark.conf.set("spark.graft.dedup.rows.per.slice", target.toString)
    try {
      DedupIndex.build(small, name, buckets = 4, estThreshold = 0.7)
      assert(Bucketed.partsOf(spark, s"${name}_bands") == 1,
        "small build did not derive a single slice")
      DedupIndex.extend(more, name)
      assert(Bucketed.partsOf(spark, s"${name}_bands") == 1,
        "extend changed the grid")
      DedupIndex.delete(gone.toDF("doc_id"), name)
      DedupIndex.compact(spark, name)
    } finally spark.conf.unset("spark.graft.dedup.rows.per.slice")
    val live = small.unionByName(more).filter(!col("doc_id").isin(gone: _*))
    val grown = Bucketed.partsOf(spark, s"${name}_bands")
    val expected = ((live.count() * 16 + target - 1) / target).toInt
    assert(grown == expected && grown > 1,
      s"compact re-derived $grown slices from the live rows (expected $expected)")
    assert(DedupIndex.storedEst(spark, name) == 0.7,
      "re-grid lost the persisted verify threshold")
    assert(Tombstones.of(spark, name).isEmpty, "re-grid did not retire the log")
    // one file per populated slice, every row in the slice its key hashes to
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands")).location
    val dirs = new java.io.File(loc).listFiles().filter(_.getName.startsWith("pb="))
    assert(dirs.nonEmpty && dirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      s"re-grid left ${dirs.map(_.listFiles().length).mkString(",")} files per slice")
    assert(spark.table(s"${name}_bands").filter(col("pb") =!=
        pmod(xxhash64(col("band"), col("band_key")), lit(grown.toLong))).isEmpty,
      "band rows sit in slices of the old modulus")
    // answers ≡ a from-scratch build over the live corpus
    DedupIndex.build(live, s"${name}_ref", buckets = 4, estThreshold = 0.7)
    val q = DedupIndex.nearDupsAgainst(spark, name, batch)
    val got = q.collect().map(_.toSeq).toSet
    val ref = DedupIndex.nearDupsAgainst(spark, s"${name}_ref", batch)
      .collect().map(_.toSeq).toSet
    assert(got == ref, s"grown index answers diverge from a rebuild")
    val found = got.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long])
    assert(kept.forall(id => found((id, id + 9800000L))), "planted copy of an extended doc not found")
    assert(!gone.exists(id => found((id, id + 9800000L))), "deleted doc found after the re-grid")
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.toString.contains(s"${name}_bands") => s
    }
    assert(scans.exists(_.toString.contains("dynamicpruning")),
      s"grown bands scan lacks a dynamic pruning filter:\n${scans.mkString}")
    // the grid never shrinks: a compact at the default target (one slice)
    // keeps the grown width
    DedupIndex.compact(spark, name)
    assert(Bucketed.partsOf(spark, s"${name}_bands") == grown, "compact shrank the grid")
  }

  test("job-count pin: one standing batch with a full compaction on a default-built index") {
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    val name = "spec_idx_jobs"
    DedupIndex.build(docs.filter(col("cb") >= 50).select("doc_id", "text"),
      name, buckets = 4)
    val parts = graft.sink.Bucketed.partsOf(spark, s"${name}_bands")
    val fresh = docs.filter(col("cb") >= 20 && col("cb") < 50)
      .select("doc_id", "text").limit(10).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
      .localCheckpoint()
    val jobs = JobCount.of(spark)(DedupIndexStream.processBatch(spark, name,
      fresh, 0L, java.nio.file.Files.createTempDirectory("didx_jobs").toString,
      compactEvery = 1))
    info(s"jobs per standing batch: $jobs at $parts slice(s)")
    assert(parts == 1, s"a small default build derived $parts slices")
    assert(jobs == DedupBatchJobs,
      s"one standing batch ran $jobs jobs (pinned $DedupBatchJobs)")
    // the full compaction left one file per slice of the stored grid
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands")).location
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(loc))
    val files = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally s.close()
    assert(files == parts, s"_bands holds $files files for $parts stored slices")
  }

  test("crash window: replay after extend-but-no-marker keeps the survivors") {
    // round-7 advice (high): a crash BETWEEN DedupIndex.extend and the
    // marker write leaves this batch's survivors in the index; on replay
    // each survivor matched ITSELF at est 1.0, the anti-join dropped them
    // all, and the overwrite replaced the committed files with an empty
    // dataset. The fix (round-8 form): the durable survivor set written
    // before the extend is reused VERBATIM on replay, so the index is
    // never re-probed with its own half-committed rows.
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    import org.apache.hadoop.fs.Path
    val tmp = java.nio.file.Files.createTempDirectory("didx_crash").toString
    val base = docs.filter(col("cb") >= 50).select("doc_id", "text")
    DedupIndex.build(base, "spec_idx_crash", buckets = 4)
    val fresh = docs.filter(col("cb") >= 20 && col("cb") < 50)
      .select("doc_id", "text").limit(10).collect()
    val b0 = fresh.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
    DedupIndexStream.processBatch(spark, "spec_idx_crash", b0, 0L, tmp)
    val committed = spark.read.parquet(s"$tmp/b=0").select("doc_id").as[Long].collect().toSet
    assert(committed.nonEmpty, "batch produced no survivors — test is vacuous")
    // simulate the crash: extend already ran (processBatch above), the
    // marker is lost before it lands
    val marker = new Path(s"$tmp/_committed/b=0")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
    DedupIndexStream.processBatch(spark, "spec_idx_crash", b0, 0L, tmp)
    val replayed = spark.read.parquet(s"$tmp/b=0").select("doc_id").as[Long].collect().toSet
    assert(replayed == committed,
      s"replay after the crash window changed the survivor set: $replayed vs $committed")
  }

  test("at-least-once source: a doc re-delivered in a LATER batch is deduped, not re-admitted") {
    // round-8 advice (low): the old replay guard dropped every match whose
    // corpus id was one of the batch's own doc ids, so a doc legitimately
    // re-delivered under a DIFFERENT batchId (no marker coverage) never
    // matched its own earlier index row and was appended as a second
    // survivor — duplicate doc_id rows in the index, two survivor copies.
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    val tmp = java.nio.file.Files.createTempDirectory("didx_redeliver").toString
    DedupIndex.build(docs.filter(col("cb") >= 50).select("doc_id", "text"),
      "spec_idx_redeliver", buckets = 4)
    val f = docs.filter(col("cb") < 50).select("doc_id", "text")
      .limit(1).collect()(0)
    val b0 = Seq((f.getLong(0), f.getString(1))).toDF("doc_id", "text")
    DedupIndexStream.processBatch(spark, "spec_idx_redeliver", b0, 0L, tmp)
    assert(spark.read.parquet(s"$tmp/b=0").count() == 1L,
      "vacuous: the fresh doc did not survive its first delivery")
    // the source re-delivers the same doc in a later batch
    DedupIndexStream.processBatch(spark, "spec_idx_redeliver", b0, 1L, tmp)
    assert(spark.read.parquet(s"$tmp/b=1").count() == 0L,
      "re-delivered doc re-admitted as a survivor")
    val sigRows = spark.table("spec_idx_redeliver_sigs")
      .filter(col("doc_id") === f.getLong(0)).count()
    assert(sigRows == 1L, s"index holds $sigRows sig rows for the re-delivered doc")
  }

  test("standing loop: survivors committed, index grows, replay is a no-op") {
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    val tmp = java.nio.file.Files.createTempDirectory("didx_stream").toString
    val base = docs.filter(col("cb") >= 50).select("doc_id", "text")
    // the loop's verify gate is a BUILD-time knob now: 0.9 rides the index
    DedupIndex.build(base, "spec_idx_loop", buckets = 4, estThreshold = 0.9)

    // batch 0: fresh docs + an exact copy of an indexed doc + an intra-batch pair
    val indexedDoc = base.orderBy(col("doc_id")).limit(1).collect()(0)
    val fresh = docs.filter(col("cb") >= 20 && col("cb") < 50)
      .select("doc_id", "text").limit(20).collect()
    val b0 = spark.createDataFrame(
      fresh.map(r => (r.getLong(0), r.getString(1))).toSeq :+
        (9000001L, indexedDoc.getString(1)) :+          // dup of indexed
        (9000002L, fresh(0).getString(1))               // intra-batch dup
    ).toDF("doc_id", "text")
    DedupIndexStream.processBatch(spark, "spec_idx_loop", b0, 0L, tmp)
    val s0 = spark.read.parquet(s"$tmp/b=0")
    val s0ids = s0.select("doc_id").as[Long].collect().toSet
    assert(!s0ids.contains(9000001L), "copy of indexed doc must not survive")
    assert(!s0ids.contains(9000002L), "intra-batch duplicate must not survive")
    assert(s0ids.contains(fresh(0).getLong(0)), "first copy in batch survives")
    assert(s0.count() == 20)

    // batch 1: a copy of a batch-0 SURVIVOR must now be caught (index grew)
    val b1 = Seq((9100001L, fresh(5).getString(1)),
      (9100002L, "completely novel text that matches nothing at all xyzzy"))
      .toDF("doc_id", "text")
    DedupIndexStream.processBatch(spark, "spec_idx_loop", b1, 1L, tmp)
    val s1ids = spark.read.parquet(s"$tmp/b=1").select("doc_id").as[Long].collect().toSet
    assert(s1ids == Set(9100002L), s"expected only the novel doc, got $s1ids")

    // replaying a committed batch is a no-op: index row count unchanged
    val before = spark.table("spec_idx_loop_sigs").count()
    DedupIndexStream.processBatch(spark, "spec_idx_loop", b0, 0L, tmp)
    assert(spark.table("spec_idx_loop_sigs").count() == before)

    // and the wrapper drives the same path through a real streaming query
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DedupIndexStream.DocArrival]
    val tmp2 = java.nio.file.Files.createTempDirectory("didx_stream2").toString
    in.addData(DedupIndexStream.DocArrival(9200001L, fresh(7).getString(1)),
      DedupIndexStream.DocArrival(9200002L, "another entirely novel string qwerty"))
    val q = DedupIndexStream.run(in.toDS(), "spec_idx_loop", tmp2)
      .option("checkpointLocation", s"$tmp2/_cp").start()
    try q.processAllAvailable() finally q.stop()
    val sids = spark.read.parquet(s"$tmp2/b=0").select("doc_id").as[Long].collect().toSet
    assert(sids == Set(9200002L), s"survivor set through the stream: $sids")
  }

  // ---- persisted incremental cluster map (q228) ----

  private def smallDocs = Tables.documents(spark, sf("sf0.001"))
    .select(col("doc_id"), col("text"),
      Sampling.contentBucket(col("text")).as("cb"))

  private def cmapOf(name: String): Map[Long, Long] =
    DedupIndex.clusterMap(spark, name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cluster map: incremental merge across extends ≡ from-scratch CC on the union") {
    val d = smallDocs
    DedupIndex.buildClustered(
      d.filter(col("cb") >= 30).select("doc_id", "text"), "spec_clx_eq", buckets = 4)
    DedupIndex.extend(
      d.filter(col("cb") < 30).select("doc_id", "text"), "spec_clx_eq")
    DedupIndex.buildClustered(d.select("doc_id", "text"), "spec_clx_ref", buckets = 4)
    val inc = cmapOf("spec_clx_eq")
    val ref = cmapOf("spec_clx_ref")
    assert(inc == ref, s"incremental map diverged from from-scratch: " +
      s"${(inc.toSet -- ref.toSet).take(5)} vs ${(ref.toSet -- inc.toSet).take(5)}")
  }

  test("cluster map: replay is a label no-op; deleting a bridge splits; compact folds") {
    import spark.implicits._
    def toks(from: Int, to: Int) = (from to to).map(i => s"w$i").mkString(" ")
    // a CHAIN by construction: trigram shingles S_i = (w_i w_i+1 w_i+2);
    // A has S1..S10, B has S3..S12 (J(A,B)=8/12≈0.67), C has S5..S14
    // (J(B,C)≈0.67, J(A,C)=6/14≈0.43 < 0.6) — B is the only bridge
    val chain = Seq((9000001L, toks(1, 12)), (9000002L, toks(3, 14)),
      (9000003L, toks(5, 16))).toDF("doc_id", "text").localCheckpoint()
    val name = "spec_clx_chain"
    val corpus = smallDocs.filter(col("doc_id") < 100).select("doc_id", "text")
    DedupIndex.buildClustered(corpus, name, buckets = 4)
    DedupIndex.extend(chain, name)
    val m0 = cmapOf(name)
    assert(Seq(9000001L, 9000002L, 9000003L).forall(m0(_) == 9000001L),
      s"chain not merged: ${m0.filter(_._1 >= 9000000L)}")
    // at-least-once replay: same batch again, map unchanged
    DedupIndex.extend(chain, name)
    assert(cmapOf(name) == m0, "replayed extend changed the cluster map")
    // deleting the bridge must SPLIT the component — a tombstone filter
    // over the old labels would leave C pointing at the vanished chain
    DedupIndex.delete(Seq(9000002L).toDF("doc_id"), name)
    val m1 = cmapOf(name)
    assert(!m1.contains(9000002L), "deleted doc still mapped")
    assert(m1(9000001L) == 9000001L && m1(9000003L) == 9000003L,
      s"bridge delete did not split: ${m1.filter(_._1 >= 9000000L)}")
    // compact folds base ⊕ map ⊕ tombstones: answers unchanged, label map
    // cleared, deleted rows gone at rest
    DedupIndex.compact(spark, name)
    assert(cmapOf(name) == m1, "compaction changed cluster answers")
    assert(spark.table(s"${name}_labelmap").isEmpty, "label map not folded")
    val atRest = spark.read.parquet(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_clusters"))
        .location.toString)
      .select(col("doc_id")).as[Long].collect()
    assert(!atRest.contains(9000002L), "deleted doc still at rest in clusters")
    assert(atRest.length == atRest.distinct.length,
      "fold left duplicate per-doc rows")
  }

  test("plan: cluster-map resolution never shuffles the bucketed base") {
    // max_by rides the bucketed scan's HashPartitioning(doc_id); the label
    // map and tombstone log join as broadcasts — at 100 TB the resolution
    // is one exchange-free pass over the clusters table
    val plan = DedupIndex.clusterMap(spark, "spec_clx_eq")
      .queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) {
      case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"cluster-map read plan shuffles:\n${plan.toString.take(3000)}")
  }

  test("cluster map: the standing loop maintains clusters; swap deploys a clustered generation") {
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    val name = "spec_clx_loop"
    val corpus = smallDocs.filter(col("doc_id") < 80).select("doc_id", "text")
    DedupIndex.buildClustered(corpus, name, buckets = 4)
    val tmp = java.nio.file.Files.createTempDirectory("clx_loop").toString
    // an intra-batch NEAR-dup pair with unique vocabulary: both survive
    // the loop's exact dedup and the index probe (neither matches the
    // corpus), and the cluster leg of the loop's extend must merge them
    val t1 = (1 to 14).map(i => s"lv$i").mkString(" ")
    val t2 = t1 + " lv15"
    val b0 = Seq((9100001L, t1), (9100002L, t2)).toDF("doc_id", "text")
    DedupIndexStream.processBatch(spark, name, b0, 0L, tmp)
    val m = cmapOf(name)
    assert(m(9100001L) == 9100001L && m(9100002L) == 9100001L,
      s"standing loop did not merge the intra-batch near-dup pair: " +
        s"${m.filter(_._1 >= 9100000L)}")
    // marker-guarded replay: a no-op for the cluster map too
    DedupIndexStream.processBatch(spark, name, b0, 0L, tmp)
    assert(cmapOf(name) == m, "marker-guarded replay changed the cluster map")
    // generation swap: a clustered staging build (with one extra twin)
    // deploys all six suffix tables through the live name
    val twin = Seq((9100003L, t1)).toDF("doc_id", "text")
    DedupIndex.buildClustered(
      corpus.unionByName(b0).unionByName(twin), s"${name}_v2", buckets = 4)
    DedupIndex.swapIn(spark, s"${name}_v2", name)
    val m2 = cmapOf(name)
    assert(m2(9100003L) == 9100001L && m2(9100002L) == 9100001L,
      s"swapped generation's cluster map not serving: ${m2.get(9100003L)}")
  }

  test("cluster audit: clean lifecycle reads all-zero; planted corruption is detected") {
    import spark.implicits._
    val name = "spec_clx_audit"
    val d = smallDocs
    DedupIndex.buildClustered(
      d.filter(col("cb") >= 30).select("doc_id", "text"), name, buckets = 4)
    DedupIndex.extend(
      d.filter(col("cb") < 30 && col("doc_id") < 120).select("doc_id", "text"), name)
    DedupIndex.delete(
      d.filter(col("doc_id") % 11 === 3).select("doc_id"), name)
    def auditRow = DedupIndex.clusterAudit(spark, name).collect()(0)
    val clean = auditRow
    assert((1 to 5).forall(i => clean.getLong(i) == 0L),
      s"clean clustered index audited dirty: $clean")
    // plant corruption: a label-map entry pointing at a non-root, and a
    // cluster assignment for a doc with no shingles behind it
    Seq((clean.getLong(0) + 777L, 999999999L)).toDF("old_label", "new_label")
      .write.mode("append").format("parquet").saveAsTable(s"${name}_labelmap")
    Seq((888888888L, 888888888L, 0L)).toDF("doc_id", "label", "ver")
      .write.mode("append").bucketBy(4, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(s"${name}_clusters")
    val dirty = auditRow
    assert(dirty.getAs[Long]("dangling_map") >= 1, s"dangling map entry undetected: $dirty")
    assert(dirty.getAs[Long]("missing_shingles") >= 1,
      s"assignment without shingles undetected: $dirty")
  }

  test("cluster threshold is persisted with the index and governs extend + repair") {
    import spark.implicits._
    def toks(from: Int, to: Int) = (from to to).map(i => s"thr$i").mkString(" ")
    // A/B word-trigram Jaccard = 8/12 ≈ 0.667: mergeable at the default
    // 0.6, NOT at 0.8 — the round-11 ADVICE bug was extend silently
    // merging at 0.6 whatever the build threshold
    val a = Seq((9000011L, toks(1, 12))).toDF("doc_id", "text")
    val b = Seq((9000012L, toks(3, 14))).toDF("doc_id", "text")
    val name = "spec_clx_thr"
    val corpus = smallDocs.filter(col("doc_id") < 60).select("doc_id", "text")
    DedupIndex.buildClustered(corpus.unionByName(a), name, buckets = 4,
      threshold = 0.8)
    DedupIndex.extend(b, name)
    val m = cmapOf(name)
    assert(m(9000012L) == 9000012L,
      s"extend merged a 0.667 pair on a threshold-0.8 index: ${m.get(9000012L)}")
    // the property survives compaction (the _clusters fold replaces the
    // table; the staging stamp must ride the rename)
    DedupIndex.compact(spark, name)
    assert(DedupIndex.storedThreshold(spark, name) == 0.8,
      "compaction lost the persisted threshold")
    // and a repair after a delete reclusters at the STORED threshold: the
    // 0.667 pair must stay split through the affected-component recompute
    DedupIndex.delete(corpus.limit(1).select("doc_id"), name)
    assert(cmapOf(name)(9000012L) == 9000012L,
      "repair reclustered at the wrong threshold")
  }

  test("swap: a non-clustered staging build demotes a clustered live index") {
    import spark.implicits._
    val name = "spec_clx_demote"
    val corpus = smallDocs.filter(col("doc_id") < 60).select("doc_id", "text")
    DedupIndex.buildClustered(corpus, name, buckets = 4)
    assert(spark.catalog.tableExists(s"${name}_clusters"))
    // rebuild WITHOUT clustering and deploy: the stale cluster map must
    // not keep serving the previous generation's corpus (round-11 ADVICE)
    DedupIndex.build(corpus, s"${name}_v2", buckets = 4)
    DedupIndex.swapIn(spark, s"${name}_v2", name)
    assert(!spark.catalog.tableExists(s"${name}_clusters"),
      "stale cluster tables survived a non-clustered deploy")
    assert(!spark.catalog.tableExists(s"${name}_labelmap"))
    // the demoted index still serves the probe path
    val batch = smallDocs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      .select("doc_id", "text")
    DedupIndex.nearDupsAgainst(spark, name, batch).count() // must not throw
  }

  test("clustered standing loop: 3 micro-batches + replay ≡ from-scratch build on the survivors") {
    import spark.implicits._
    import graft.streaming.DedupIndexStream
    // round-11 VERDICT item 5: drive the MemoryStream loop over a
    // CLUSTERED index across ≥3 micro-batches (cross-batch near-dup, an
    // exact re-delivery, a replay) and pin the resolved map against a
    // from-scratch buildClustered over base + survivors.
    val name = "spec_clx_loop3"
    def toks(p: String, from: Int, to: Int) =
      (from to to).map(i => s"$p$i").mkString(" ")
    val base = smallDocs.filter(col("doc_id") < 60).select("doc_id", "text")
    // the 0.9 probe threshold is persisted with the index (build-time knob)
    DedupIndex.buildClustered(base, name, buckets = 4, estThreshold = 0.9)
    val tmp = java.nio.file.Files.createTempDirectory("clx_loop3").toString
    // b0: an intra-batch near-dup pair (merged by the loop's extend)
    val a1 = toks("sl", 1, 14); val a2 = a1 + " sl15"
    val b0 = Seq((9300001L, a1), (9300002L, a2)).toDF("doc_id", "text")
    // b1: a CROSS-batch near-dup of a b0 survivor — trigram J ≈ 0.71
    // (merge at 0.6) but MinHash est ≈ 0.7 < the loop's 0.9 probe
    // threshold, so it SURVIVES the dedup and must still join the cluster
    val b1 = Seq((9300003L, toks("sl", 3, 16))).toDF("doc_id", "text")
    // b2: a novel doc + an exact copy of a b0 survivor (dropped by probe)
    val b2 = Seq((9300004L, toks("zq", 1, 14)), (9300005L, a1))
      .toDF("doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DedupIndexStream.DocArrival]
    val q = DedupIndexStream.run(in.toDS(), name, tmp)
      .option("checkpointLocation", s"$tmp/_cp").start()
    try {
      for (b <- Seq(b0, b1, b2)) {
        in.addData(b.collect().map(r =>
          DedupIndexStream.DocArrival(r.getLong(0), r.getString(1))).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val m = cmapOf(name)
    assert(m(9300002L) == 9300001L && m(9300003L) == 9300001L,
      s"cross-batch cluster merges missing: ${m.filter(_._1 >= 9300000L)}")
    assert(!m.contains(9300005L), "exact re-delivery survived the probe")
    // replay a committed micro-batch directly — marker-guarded no-op
    DedupIndexStream.processBatch(spark, name, b1, 1L, tmp)
    assert(cmapOf(name) == m, "replayed micro-batch changed the cluster map")
    // ground truth: from-scratch clustered build over base + survivors
    val survivors = (0 to 2).map(b => spark.read.parquet(s"$tmp/b=$b"))
      .reduce(_ unionByName _)
    DedupIndex.buildClustered(base.unionByName(survivors),
      "spec_clx_loop3_ref", buckets = 4)
    assert(m == cmapOf("spec_clx_loop3_ref"),
      "standing-loop map diverged from the from-scratch build")
  }

  test("forgetting the cluster surface: a doc's label-map references clear on delete, all tables at rest on compact") {
    import spark.implicits._
    // the q216 reference-surface story, spec-pinned on an ENGINEERED merge
    // (the gate's build-then-delete lifecycle never populates the map):
    // extending with a SMALLER id re-points a stored root, so the map
    // holds (old_root → new_label); deleting the old root must drop its
    // entries at repair time (merge-on-read), and compaction must leave
    // no trace of any deleted id in any cluster table at rest.
    val name = "spec_clx_forget"
    def toks(from: Int, to: Int) = (from to to).map(i => s"fm$i").mkString(" ")
    val pairText = toks(21, 32)
    val corpus = smallDocs.filter(col("doc_id") < 50).select("doc_id", "text")
      .unionByName(Seq((8100005L, pairText)).toDF("doc_id", "text"))
    DedupIndex.buildClustered(corpus, name, buckets = 4)
    DedupIndex.extend(Seq((7100000L, pairText)).toDF("doc_id", "text"), name)
    def rawIds(suffix: String, cols: Seq[String]): Set[Long] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name + suffix)).location
      val df = spark.read.parquet(loc.toString)
      cols.flatMap(c => df.select(col(c)).collect().map(_.getLong(0))).toSet
    }
    assert(rawIds("_labelmap", Seq("old_label", "new_label"))
        == Set(8100005L, 7100000L),
      "engineered merge did not populate the label map — test is vacuous")
    DedupIndex.delete(Seq(8100005L).toDF("doc_id"), name)
    assert(!rawIds("_labelmap", Seq("old_label", "new_label")).contains(8100005L),
      "deleted doc still referenced by the label map after repair")
    DedupIndex.delete(Seq(7100000L).toDF("doc_id"), name)
    DedupIndex.compact(spark, name)
    for (s <- Seq("_shg", "_clusters"); id <- Seq(8100005L, 7100000L))
      assert(!rawIds(s, Seq("doc_id")).contains(id),
        s"deleted doc $id still at rest in $s after compact")
    assert(rawIds("_labelmap", Seq("old_label", "new_label")).isEmpty,
      "label map not cleared by the compaction fold")
  }

  test("cluster map: deleting the canonical minimum relabels the survivors") {
    import spark.implicits._
    val name = "spec_clx_min"
    // a synthetic isolated twin pair (unique vocabulary — no organic
    // near-dup can join it): deleting the minimum member must move the
    // canonical to the survivor, not leave it pointing at a tombstone
    val text = (1 to 14).map(i => s"uniqtok$i").mkString(" ")
    val pair = Seq((9000004L, text), (9000005L, text)).toDF("doc_id", "text")
    val corpus = smallDocs.filter(col("doc_id") < 100).select("doc_id", "text")
    DedupIndex.buildClustered(corpus.unionByName(pair), name, buckets = 4)
    assert(cmapOf(name)(9000005L) == 9000004L,
      "verbatim twin not clustered with its minimum")
    DedupIndex.delete(Seq(9000004L).toDF("doc_id"), name)
    val m = cmapOf(name)
    assert(!m.contains(9000004L) && m(9000005L) == 9000005L,
      s"orphaned label not repaired: ${m.get(9000005L)}")
  }
}
