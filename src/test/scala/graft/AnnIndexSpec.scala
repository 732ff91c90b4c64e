package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.analytics.{AnnIndex, Similarity}

/** Persisted IVF ANN index (q161). */
class AnnIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def vecs = Tables.embeddings(spark, sf("sf0.01"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def queries = vecs.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("v").as("qv"))

  test("index results ≡ in-memory ivfTopKOn (same quantizer)") {
    AnnIndex.build(vecs, "spec_ann_eq", numCentroids = 16)
    val viaIndex = AnnIndex.topKAgainst(spark, "spec_ann_eq", queries, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    val inMemory = Similarity.ivfTopKOn(vecs, queries, k = 5,
      numCentroids = 16, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(viaIndex == inMemory)
  }

  test("plan: cells scan is dynamically partition-pruned by the probes") {
    AnnIndex.build(vecs, "spec_ann_dpp", numCentroids = 16)
    val q = AnnIndex.topKAgainst(spark, "spec_ann_dpp", queries, k = 5, nprobe = 2)
    q.count() // execute so AQE + DPP finalize
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.toString.contains("spec_ann_dpp_cells") => s
    }
    assert(scans.nonEmpty, "cells scan not found")
    assert(scans.exists(_.toString.contains("dynamicpruning")),
      s"cells scan lacks a dynamic pruning filter:\n${scans.map(_.toString).mkString}")
  }

  test("filtered search: candFilter keeps dynamic pruning and ranks after filtering") {
    AnnIndex.build(vecs.withColumn("label", pmod(col("vec_id"), lit(4L))),
      "spec_ann_flt", numCentroids = 16)
    val qs = queries.withColumn("qlabel", pmod(col("query_id"), lit(4L)))
    val q = AnnIndex.topKAgainst(spark, "spec_ann_flt", qs, k = 5, nprobe = 2,
      candFilter = Some(col("label") === col("qlabel")), keep = Seq("label"))
    val rows = q.collect()
    q.count()
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.toString.contains("spec_ann_flt_cells") => s
    }
    assert(scans.exists(_.toString.contains("dynamicpruning")),
      "candFilter broke dynamic partition pruning on the cells scan")
    // every returned row satisfies the filter, and ranks are dense from 1
    // (rank-after-filter: a wrong-label nearer neighbor doesn't burn a slot)
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("label") == r.getAs[Long]("query_id") % 4))
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.values.forall(rs =>
      rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length)))
  }

  test("q209 gate: filtered recall + exclusion booleans all hold") {
    val out = AnnIndex.filteredGate(spark, sf("sf0.01")).collect()
    assert(out.length == 10)
    assert(out.forall(r => r.getAs[Boolean]("found_same") &&
      r.getAs[Boolean]("excluded_other") && r.getAs[Boolean]("filter_respected")))
  }

  test("generation swap: live name serves old content until swap, new after; staging retired") {
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), "spec_ann_swap", numCentroids = 8)
    val beforeIds = spark.table("spec_ann_swap_cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(beforeIds.forall(_ % 2 == 0))
    AnnIndex.build(vecs, "spec_ann_swap_stg", numCentroids = 16)
    // live still serves the old generation while staging builds
    assert(spark.table("spec_ann_swap_cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet == beforeIds)
    AnnIndex.swapIn(spark, "spec_ann_swap_stg", "spec_ann_swap")
    val afterIds = spark.table("spec_ann_swap_cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(afterIds == vecs.select(col("vec_id")).collect().map(_.getLong(0)).toSet,
      "live name must serve the rebuilt generation after the swap")
    assert(!spark.catalog.tableExists("spec_ann_swap_stg_cells") &&
      !spark.catalog.tableExists("spec_ann_swap_stg_centroids"),
      "staging names must be retired by the swap")
    // the swapped-in index serves through the ordinary path
    val top = AnnIndex.topKAgainst(spark, "spec_ann_swap", queries, k = 3)
    assert(top.count() > 0)
  }

  test("q161 gate: planted copies found through build + extend + pruned scan") {
    val out = AnnIndex.plantedRecallGate(spark, sf("sf0.01")).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Boolean]("found")),
      s"queries missing their plant: ${out.filterNot(_.getAs[Boolean]("found")).mkString(",")}")
  }

  test("streaming extend: fresh vectors retrievable next batch; replay no-op") {
    import spark.implicits._
    import graft.streaming.AnnIndexStream
    AnnIndex.build(vecs, "spec_ann_stream", numCentroids = 16)
    val tmp = java.nio.file.Files.createTempDirectory("ann_stream").toString

    // batch 0 plants a scaled copy of query vector 3 through the stream path
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AnnIndexStream.VecArrival]
    val qv3 = vecs.filter(col("vec_id") === 3L).collect()(0).getSeq[Double](1)
    in.addData(AnnIndexStream.VecArrival(2000003L, qv3.map(_ * 2.0)))
    val q = AnnIndexStream.run(in.toDS(), "spec_ann_stream", tmp)
      .option("checkpointLocation", s"$tmp/_cp").start()
    try q.processAllAvailable() finally q.stop()

    val top = AnnIndex.topKAgainst(spark, "spec_ann_stream",
      vecs.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("query_id"), col("v").as("qv")), k = 2)
      .collect().sortBy(_.getAs[Int]("rn"))
    assert(top(0).getAs[Long]("neighbor_id") == 2000003L)
    assert(top(0).getAs[Double]("cos_sim") == 1.0)

    // duplicate append (simulated crash-replay past the marker guard) must
    // not let the plant occupy two top-k slots
    AnnIndex.extend(Seq((2000003L, qv3.map(_ * 2.0))).toDF("vec_id", "v"), "spec_ann_stream")
    val top2 = AnnIndex.topKAgainst(spark, "spec_ann_stream",
      vecs.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("query_id"), col("v").as("qv")), k = 2)
      .collect().sortBy(_.getAs[Int]("rn"))
    assert(top2(0).getAs[Long]("neighbor_id") == 2000003L)
    assert(top2(1).getAs[Long]("neighbor_id") != 2000003L,
      "duplicated index row occupied two top-k slots")

    // and a replay guarded by the marker really is a no-op
    val before = spark.table("spec_ann_stream_cells").count()
    AnnIndexStream.processBatch(spark, "spec_ann_stream",
      Seq((2000003L, qv3.map(_ * 2.0))).toDF("vec_id", "v"), 0L, tmp)
    assert(spark.table("spec_ann_stream_cells").count() == before)
  }

  test("streaming auto-compaction: every Nth batch collapses its touched cells") {
    import spark.implicits._
    import graft.streaming.AnnIndexStream
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), "spec_ann_auto", numCentroids = 8)
    val tmp = java.nio.file.Files.createTempDirectory("ann_auto").toString
    val odd = vecs.filter(col("vec_id") % 2 === 1).limit(40).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    // two batches, compactEvery = 2: batch 0 appends only; batch 1 appends
    // then compacts the cells IT touched
    AnnIndexStream.processBatch(spark, "spec_ann_auto",
      odd.take(20).toSeq.toDF("vec_id", "v"), 0L, tmp, compactEvery = 2)
    AnnIndexStream.processBatch(spark, "spec_ann_auto",
      odd.drop(20).toSeq.toDF("vec_id", "v"), 1L, tmp, compactEvery = 2)
    val touched = graft.analytics.Similarity
      .assignCellsOn(odd.drop(20).toSeq.toDF("vec_id", "v"),
        spark.table("spec_ann_auto_centroids"))
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSet
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("spec_ann_auto_cells")).location
    val counts = new java.io.File(loc).listFiles().filter(_.getName.startsWith("cid="))
      .map(d => d.getName.stripPrefix("cid=").toLong ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    touched.foreach { cid =>
      assert(counts(cid) == 1, s"touched cell $cid not compacted: $counts")
    }
    // and every appended vector is still retrievable (answers preserved);
    // fresh query_id so the self-exclusion filter doesn't hide the match
    val (qid, qv) = odd.last
    val top = AnnIndex.topKAgainst(spark, "spec_ann_auto",
      Seq((qid + 5000000L, qv)).toDF("query_id", "qv"), k = 1).collect()
    assert(top.length == 1 && top(0).getAs[Double]("cos_sim") == 1.0,
      s"self-duplicate lookup through the auto-compacted index: ${top.mkString}")
  }

  /** Spark jobs of one standing batch of ten vectors with its touched-cell
    * compaction (`compactEvery = 1`), on a 16-centroid index: the touched
    * cells are observed inside the extend's append job. */
  private val StreamBatchJobs = 6

  test("job-count pin: one standing batch with its touched-cell compaction") {
    import spark.implicits._
    import graft.streaming.AnnIndexStream
    val name = "spec_ann_jobs"
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), name, numCentroids = 16)
    val fresh = vecs.filter(col("vec_id") % 2 === 1).limit(10).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("vec_id", "v")
      .localCheckpoint()
    val jobs = JobCount.of(spark)(AnnIndexStream.processBatch(spark, name,
      fresh, 0L, java.nio.file.Files.createTempDirectory("ann_jobs").toString,
      compactEvery = 1))
    info(s"jobs per standing batch: $jobs")
    assert(jobs == StreamBatchJobs,
      s"one standing batch ran $jobs jobs (pinned $StreamBatchJobs)")
  }

  test("extend reports the cells it appended into; an empty stream batch compacts none") {
    import spark.implicits._
    import graft.streaming.AnnIndexStream
    val name = "spec_ann_touch"
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), name, numCentroids = 16)
    val fresh = vecs.filter(col("vec_id") % 2 === 1).limit(10).localCheckpoint()
    val assigned = graft.analytics.Similarity
      .assignCellsOn(fresh, spark.table(s"${name}_centroids"))
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSet
    assert(AnnIndex.extend(fresh, name).toSet == assigned)
    def cellFiles(): Map[String, Set[String]] = {
      val loc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_cells")).location)
      loc.listFiles().filter(_.getName.startsWith("cid="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val before = cellFiles()
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    assert(AnnIndex.extend(empty, name).isEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("ann_empty").toString
    AnnIndexStream.processBatch(spark, name, empty, 0L, tmp, compactEvery = 1)
    assert(cellFiles() == before, "an empty batch rewrote cells")
    assert(new java.io.File(s"$tmp/b=0").exists, "the empty batch did not commit")
  }

  test("streaming targeted cadence: threshold mode rewrites only accreted cells; answers preserved") {
    import spark.implicits._
    import graft.streaming.AnnIndexStream
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), "spec_ann_tgt", numCentroids = 8)
    val tmp = java.nio.file.Files.createTempDirectory("ann_tgt").toString
    val odd = vecs.filter(col("vec_id") % 2 === 1).limit(8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    def cellFiles(): Map[Long, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("spec_ann_tgt_cells")).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("cid="))
        .map(d => d.getName.stripPrefix("cid=").toLong ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(_.getName).toSet).toMap
    }
    // batch 0 appends only; batch 1 fires the threshold pass, which reads
    // the MEASURED layout — every cell the two small batches accreted past
    // 1 file collapses, cells neither batch touched keep their exact files
    AnnIndexStream.processBatch(spark, "spec_ann_tgt",
      odd.take(4).toSeq.toDF("vec_id", "v"), 0L, tmp,
      targetedEvery = 2, fileThreshold = 1)
    val mid = cellFiles()
    val accreted = mid.filter(_._2.size > 1).keySet
    val untouched = mid.filter(_._2.size == 1).keySet
    assert(accreted.nonEmpty && untouched.nonEmpty,
      s"no accreted/untouched split — vacuous: ${mid.view.mapValues(_.size).toMap}")
    AnnIndexStream.processBatch(spark, "spec_ann_tgt",
      odd.drop(4).toSeq.toDF("vec_id", "v"), 1L, tmp,
      targetedEvery = 2, fileThreshold = 1)
    val after = cellFiles()
    assert(after.values.forall(_.size == 1),
      s"threshold pass left accreted cells: ${after.view.mapValues(_.size).toMap}")
    val touchedByB1 = graft.analytics.Similarity
      .assignCellsOn(odd.drop(4).toSeq.toDF("vec_id", "v"),
        spark.table("spec_ann_tgt_centroids"))
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSet
    (untouched -- touchedByB1).foreach { cid =>
      assert(after(cid) == mid(cid), s"cell $cid rewritten though under threshold")
    }
    // every streamed vector still retrievable through the compacted layout
    val (qid, qv) = odd.head
    val top = AnnIndex.topKAgainst(spark, "spec_ann_tgt",
      Seq((qid + 5000000L, qv)).toDF("query_id", "qv"), k = 1).collect()
    assert(top.length == 1 && top(0).getAs[Double]("cos_sim") == 1.0,
      s"self-duplicate lookup through the targeted-compacted index: ${top.mkString}")
  }

  test("q166 lifecycle: drift flips rebuild; retrain+rebuild restores keep and recall") {
    import spark.implicits._
    val lab = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
    AnnIndex.build(lab, "spec_ann_ref", numCentroids = 16)
    // the corpus drifts: label 0 gains a (+0.5)-shifted copy of every vector
    val drifted = lab.filter(col("label") === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, x -> x + 0.5d)").as("v"), col("label"))
    val current = lab.unionByName(drifted)
    AnnIndex.extend(drifted.select(col("vec_id"), col("v")), "spec_ann_ref")
    val d1 = AnnIndex.refreshDecision(spark, "spec_ann_ref", current)
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Boolean]("rebuild")).toMap
    assert(d1(0), s"drifted label must vote rebuild: $d1")
    assert((1 to 9).forall(l => !d1(l)), s"clean labels must keep: $d1")

    // act on the decision: retrain (genuine Lloyd refinement, so the
    // quantizer actually adapts to the drifted mass) and rebuild on the
    // current corpus — stats refresh with it
    spark.conf.set("spark.graft.ivf.kmeans.iters", "2")
    try AnnIndex.build(current, "spec_ann_ref", numCentroids = 16)
    finally spark.conf.unset("spark.graft.ivf.kmeans.iters")
    val d2 = AnnIndex.refreshDecision(spark, "spec_ann_ref", current)
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Boolean]("rebuild")).toMap
    assert(d2.values.forall(_ == false),
      s"post-rebuild decision must be keep everywhere: $d2")

    // planted recall over the DRIFTED region through the rebuilt index: a
    // x2 copy of a drifted vector shares its direction, hence its cell
    // under the retrained quantizer — top-1 at cosine exactly 1.0
    val dq = drifted.orderBy(col("vec_id")).limit(1).collect()(0)
    AnnIndex.extend(Seq((9000001L, dq.getSeq[Double](1).map(_ * 2.0)))
      .toDF("vec_id", "v"), "spec_ann_ref")
    val top = AnnIndex.topKAgainst(spark, "spec_ann_ref",
      Seq((dq.getLong(0), dq.getSeq[Double](1))).toDF("query_id", "qv"), k = 1)
      .collect()
    assert(top.length == 1 && top(0).getAs[Long]("neighbor_id") == 9000001L &&
      top(0).getAs[Double]("cos_sim") == 1.0,
      s"drifted-region recall through the rebuilt index: ${top.mkString}")
  }

  test("compaction: one file per cell, targeted pass scoped, answers unchanged") {
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), "spec_ann_cmp", numCentroids = 8)
    for (r <- Seq(1, 3, 5))
      AnnIndex.extend(vecs.filter(col("vec_id") % 6 === r), "spec_ann_cmp")
    def fileCounts(): Map[String, Int] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("spec_ann_cmp_cells")).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("cid="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = fileCounts()
    assert(before.values.exists(_ > 1),
      s"extends produced no small files — compaction test is vacuous: $before")
    val baseline = AnnIndex.topKAgainst(spark, "spec_ann_cmp", queries, k = 5)
      .collect().map(_.toSeq).toSet

    // targeted pass: only the chosen cell collapses, the rest are untouched
    val (targetDir, _) = before.maxBy(_._2)
    val targetCid = targetDir.stripPrefix("cid=").toLong
    AnnIndex.compact(spark, "spec_ann_cmp", Some(Seq(targetCid)))
    val mid = fileCounts()
    assert(mid(targetDir) == 1, s"targeted cell not compacted: $mid")
    assert((before - targetDir).forall { case (k, v) => mid(k) == v },
      s"untargeted cells were rewritten: before=$before mid=$mid")

    // full pass: every cell one file; every answer identical
    AnnIndex.compact(spark, "spec_ann_cmp")
    val after = fileCounts()
    assert(after.values.forall(_ == 1), s"cells not compacted: $after")
    val compacted = AnnIndex.topKAgainst(spark, "spec_ann_cmp", queries, k = 5)
      .collect().map(_.toSeq).toSet
    assert(compacted == baseline, "compaction changed an answer")
  }

  test("cid-scoped compact stays dynamic regardless of the session overwrite mode") {
    // the round-12 ADVICE data-loss window: dynamic mode used to be a
    // session-conf set/restore dance, so a concurrent sibling's restore
    // landing mid-compact downgraded the overwrite to STATIC — truncating
    // every UNSELECTED cell. The write now runs in a conf-isolated CLONED
    // session whose own conf is dynamic (graft.sink.DynamicOverwrite — a
    // per-writer .option never reaches the V1 insertInto path, which is
    // why the session conf must be isolated rather than overridden); pin
    // that by forcing the hostile value on THIS session's conf and
    // compacting one cell: the clone never consults it.
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), "spec_ann_stat", numCentroids = 8)
    AnnIndex.extend(vecs.filter(col("vec_id") % 6 === 1), "spec_ann_stat")
    val rowsBefore = spark.table("spec_ann_stat_cells").count()
    val cids = spark.table("spec_ann_stat_cells").select(col("cid"))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(cids.length >= 2, s"need >=2 cells for the truncation pin: ${cids.toSeq}")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try AnnIndex.compact(spark, "spec_ann_stat", Some(Seq(cids.head)))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(spark.table("spec_ann_stat_cells").count() == rowsBefore,
      "scoped compact under a static session conf truncated unselected cells")
  }

  test("threshold driver: plan matches the physical layout; only over-threshold cells rewritten") {
    AnnIndex.build(vecs.filter(col("vec_id") % 2 === 0), "spec_ann_thr", numCentroids = 8)
    for (r <- Seq(1, 3, 5))
      AnnIndex.extend(vecs.filter(col("vec_id") % 6 === r), "spec_ann_thr")
    // asymmetric hot cells: two more appends of ×2-scaled copies of a few
    // vectors (same direction ⇒ same cell) so only their cells go over
    for (off <- Seq(90000L, 91000L))
      AnnIndex.extend(
        vecs.filter(col("vec_id") < 5)
          .select((col("vec_id") + off).as("vec_id"),
            org.apache.spark.sql.functions.expr("transform(v, x -> x * 2.0d)").as("v")),
        "spec_ann_thr")
    def fileNames(): Map[String, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("spec_ann_thr_cells")).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("cid="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = fileNames()
    val threshold = before.values.map(_.size).min  // some cells over, some at/under
    assert(before.values.exists(_.size > threshold),
      s"no cell over threshold $threshold — driver test is vacuous: ${before.view.mapValues(_.size).toMap}")
    val baseline = AnnIndex.topKAgainst(spark, "spec_ann_thr", queries, k = 5)
      .collect().map(_.toSeq).toSet

    // the plan's file counts are the filesystem's, via _metadata provenance
    val plan = AnnIndex.compactOverThreshold(spark, "spec_ann_thr", threshold)
      .collect().map(r => s"cid=${r.getLong(0)}" -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(plan.keySet == before.keySet)
    for ((cell, files) <- before) {
      assert(plan(cell)._1 == files.size.toLong, s"$cell: plan says ${plan(cell)._1}, fs has ${files.size}")
      assert(plan(cell)._2 == (files.size > threshold))
    }

    val after = fileNames()
    for ((cell, files) <- before) {
      if (files.size > threshold)
        assert(after(cell).size == 1, s"$cell selected but not compacted: ${after(cell)}")
      else
        assert(after(cell) == files, s"$cell under threshold but its files changed")
    }
    val compacted = AnnIndex.topKAgainst(spark, "spec_ann_thr", queries, k = 5)
      .collect().map(_.toSeq).toSet
    assert(compacted == baseline, "threshold compaction changed an answer")
  }

  test("quantizer refresh: Lloyd retrain + staged swap; deletions honored; serving intact") {
    val name = "spec_ann_refresh"
    AnnIndex.build(vecs, name, numCentroids = 16)
    // pending deletions at refresh time: the rebuild snapshot excludes them
    val gone = vecs.filter(col("vec_id") >= 480).select(col("vec_id"))
    AnnIndex.delete(gone, name)
    AnnIndex.refreshQuantizer(spark, name, k = 16, iters = 2)
    // the refreshed quantizer is Lloyd-trained: 16 centroids, re-centered
    assert(spark.table(s"${name}_centroids").count() == 16)
    val seeded = Similarity.trainCentroidsOn(
      vecs.select(col("vec_id"), col("v")), 16)
      .collect().map(_.getSeq[Double](1)).toSet
    val refreshed = spark.table(s"${name}_centroids")
      .collect().map(_.getSeq[Double](1)).toSet
    assert(refreshed != seeded, "refresh left the seeded centroids in place")
    // deleted vectors are physically absent from the new generation
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_cells")).location
    val atRest = spark.read.parquet(loc.toString)
      .select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    assert(atRest.intersect(goneIds).isEmpty,
      "tombstoned vectors survived the refresh rebuild")
    // serving is intact through the swap: a probe whose vector COPIES a
    // retained corpus vector must find that vector top-1 at sim 1.0
    // (query ids offset so the self-exclusion filter doesn't bite)
    val copyQ = vecs.filter(col("vec_id") < 10)
      .select((col("vec_id") + lit(700000L)).as("query_id"), col("v").as("qv"))
    val top1 = AnnIndex.topKAgainst(spark, name, copyQ, k = 1, nprobe = 2)
      .collect().map(r => (r.getLong(0) - 700000L, r.getLong(1), r.getDouble(2)))
    assert(top1.length == 10 && top1.forall { case (q, n, s) => q == n && s == 1.0 },
      s"planted copies lost through the refresh swap: ${top1.mkString(", ")}")
  }
}
