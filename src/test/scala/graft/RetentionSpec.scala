package graft

import org.apache.spark.sql.functions._
import graft.analytics.{AnnIndex, DedupIndex, IndexAudit, LexIndex, Sampling}
import graft.sink.Tombstones

/** Deletion propagation across the persisted-index trio (q206/q207/q208):
  * merge-on-read tombstones + physical purge-on-compact. The properties a
  * GDPR/retention pipeline actually relies on, pinned:
  *  - a delete request is O(batch): NO index file is rewritten;
  *  - the very next query already excludes the deleted rows;
  *  - replaying the same request changes nothing (idempotent, and the lex
  *    stats deltas don't double-subtract);
  *  - the purge physically removes the rows (raw-file scan, bypassing the
  *    merge-on-read filter), resets the log, and changes no answer;
  *  - the ANN purge rewrites ONLY the cells that held tombstoned vectors.
  */
class RetentionSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf("sf0.01"))
    .select(col("doc_id"), col("text"),
      Sampling.contentBucket(col("text")).as("cb"))

  import scala.jdk.CollectionConverters._

  private def tableFiles(table: String): Set[String] = {
    // recursive: partitioned index tables (dedup _bands since round 12)
    // keep their files under partCol=v subdirectories
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    val root = java.nio.file.Paths.get(loc)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
    finally s.close()
  }

  private def rawIds(table: String, idCol: String): Set[Long] = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    spark.read.parquet(loc.toString).select(col(idCol))
      .distinct().collect().map(_.getLong(0)).toSet
  }

  test("dedup index: delete is O(batch) merge-on-read; purge removes rows and resets the log") {
    val name = "spec_ret_dedup"
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    DedupIndex.build(corpus, name, buckets = 4)
    val batch = docs.filter(col("cb") >= 10 && col("cb") < 30)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    def pairs(): Set[(Long, Long)] =
      DedupIndex.nearDupsAgainst(spark, name, batch, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseline = pairs()
    assert(baseline.nonEmpty, "vacuous: no planted pair found before delete")

    val gone = docs.filter(col("cb") >= 10 && col("cb") < 20).select("doc_id")
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    val (sigsBefore, bandsBefore) =
      (tableFiles(s"${name}_sigs"), tableFiles(s"${name}_bands"))
    DedupIndex.delete(gone, name)
    assert(tableFiles(s"${name}_sigs") == sigsBefore &&
      tableFiles(s"${name}_bands") == bandsBefore,
      "delete rewrote an index file — the request path must be O(batch)")

    val afterDelete = pairs()
    assert(afterDelete == baseline.filterNot(p => goneIds(p._1)),
      "merge-on-read answer != baseline minus deleted corpus ids")
    DedupIndex.delete(gone, name) // replay
    assert(pairs() == afterDelete, "replayed delete changed answers")

    DedupIndex.compact(spark, name)
    assert(pairs() == afterDelete, "physical purge changed an answer")
    assert(rawIds(s"${name}_sigs", "doc_id").intersect(goneIds).isEmpty,
      "purged sigs still hold tombstoned rows on disk")
    assert(rawIds(s"${name}_bands", "doc_id").intersect(goneIds).isEmpty,
      "purged bands still hold tombstoned rows on disk")
    assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
      "tombstone log survived the purge")
  }

  test("lex index: delete adjusts stats exactly; served BM25 ≡ fresh index on the retained corpus") {
    val name = "spec_ret_lex"
    LexIndex.build(docs.select("doc_id", "text"), name, buckets = 4)
    val gone = docs.filter(col("cb") < 10).select("doc_id")
    LexIndex.delete(gone, name)

    def statsTotals(n: String): (Long, Long) = {
      val r = spark.table(s"${n}_stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // exactness: running totals equal a from-scratch count on the retained docs
    val retained = docs.filter(col("cb") >= 10).select("doc_id", "text")
    val fresh = "spec_ret_lex_fresh"
    LexIndex.build(retained, fresh, buckets = 4)
    assert(statsTotals(name) == statsTotals(fresh),
      "negative stats delta drifted from a from-scratch count")
    // replay must not double-subtract
    val t = statsTotals(name)
    LexIndex.delete(gone, name)
    assert(statsTotals(name) == t, "replayed delete double-subtracted stats")

    def served(n: String): Set[Seq[Any]] =
      LexIndex.bm25Against(spark, n).collect().map(_.toSeq).toSet
    val mor = served(name)
    assert(mor == served(fresh),
      "BM25 after delete differs from an index that never held the docs")

    LexIndex.compact(spark, name)
    assert(served(name) == mor, "physical purge changed an answer")
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    assert(rawIds(s"${name}_postings", "doc_id").intersect(goneIds).isEmpty,
      "purged postings still hold tombstoned rows on disk")
    assert(rawIds(s"${name}_dl", "doc_id").intersect(goneIds).isEmpty,
      "purged dl still holds tombstoned rows on disk")
    assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
      "tombstone log survived the purge")
  }

  test("ann index: purge rewrites only the cells that held tombstoned vectors") {
    val name = "spec_ret_ann"
    val vecs = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    AnnIndex.build(vecs, name, numCentroids = 8)
    val q = vecs.filter(col("vec_id") < 10)
    AnnIndex.extend(q.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(v, x -> x * 2.0d)").as("v")), name)
    val queries = q.select(col("vec_id").as("query_id"), col("v").as("qv"))
    def top(): Set[Seq[Any]] =
      AnnIndex.topKAgainst(spark, name, queries, k = 5)
        .collect().map(_.toSeq).toSet

    val goneIds = (0L until 5L).map(_ + 1000000L).toSet
    val affected = spark.table(s"${name}_cells")
      .filter(col("vec_id").isin(goneIds.toSeq: _*))
      .select(col("cid")).distinct().collect().map(_.getLong(0))
      .map(c => s"cid=$c").toSet

    def cellFiles(): Map[String, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_cells")).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("cid="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = cellFiles()
    import spark.implicits._
    AnnIndex.delete(goneIds.toSeq.toDF("vec_id"), name)
    assert(cellFiles() == before, "delete rewrote a cell — must be O(batch)")
    val mor = top()
    assert(mor.forall(r => !goneIds(r(1).asInstanceOf[Long])),
      "merge-on-read still returned a tombstoned neighbor")

    AnnIndex.purgeTombstones(spark, name)
    val after = cellFiles()
    for ((cell, files) <- before) {
      if (affected(cell)) assert(after(cell) != files, s"$cell held tombstones but was not rewritten")
      else assert(after(cell) == files, s"$cell untouched by deletion but its files changed")
    }
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_cells")).location
    val physIds = spark.read.parquet(loc.toString).select(col("vec_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(physIds.intersect(goneIds).isEmpty,
      "purged cells still hold tombstoned vectors on disk")
    assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
      "tombstone log survived the purge")
    assert(top() == mor, "purge changed an answer")
  }

  test("ann index: a purge that empties a cell drops its partition; no purged vector comes back") {
    val name = "spec_ret_ann_cell"
    val vecs = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    AnnIndex.build(vecs, name, numCentroids = 8)
    val cells = spark.table(s"${name}_cells")
    val cid = cells.groupBy(col("cid")).count()
      .orderBy(col("count"), col("cid")).first().getLong(0)
    val gone = cells.filter(col("cid") === cid).select(col("vec_id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val goneIds = gone.map(_._1).toSet
    import spark.implicits._
    AnnIndex.delete(goneIds.toSeq.toDF("vec_id"), name)
    // each deleted vector, asked under a fresh id, probes its own cell first
    val asked = gone.toSeq.map { case (id, v) => (id + 5000000L, v) }
      .toDF("query_id", "qv")
    def served(): Set[Long] = AnnIndex.topKAgainst(spark, name, asked, k = 5)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(served().nonEmpty && served().intersect(goneIds).isEmpty,
      "merge-on-read served a deleted vector")

    AnnIndex.purgeTombstones(spark, name)
    assert(!spark.catalog.tableExists(Tombstones.tableOf(name)),
      "tombstone log survived the purge")
    val ti = org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_cells")
    val cat = spark.sessionState.catalog
    assert(!cat.listPartitions(ti).exists(_.spec("cid") == cid.toString),
      s"the emptied cell $cid is still a catalog partition")
    assert(!new java.io.File(new java.io.File(cat.getTableMetadata(ti).location),
      s"cid=$cid").exists(), s"the emptied cell $cid is still on disk")
    assert(served().intersect(goneIds).isEmpty,
      "a purged vector came back once the log reset")
  }

  test("plan: merge-on-read tombstone filters are broadcast anti-joins, never shuffles") {
    val name = "spec_ret_plan"
    DedupIndex.build(docs.filter(col("cb") >= 10).select("doc_id", "text"), name, buckets = 4)
    DedupIndex.delete(docs.filter(col("cb") >= 10 && col("cb") < 20)
      .select("doc_id"), name)
    val probe = docs.filter(col("cb") < 10)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val q = DedupIndex.nearDupsAgainst(spark, name, probe, 0.9)
    q.count()
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val antiJoins = helper.collectWithSubqueries(q.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.toString == "LeftAnti" => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType.toString == "LeftAnti" => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.joinType.toString == "LeftAnti" => j
    }
    assert(antiJoins.nonEmpty, "tombstone anti-join not found in the probe plan")
    assert(antiJoins.forall(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"a tombstone anti-join shuffled the index side:\n${antiJoins.map(_.nodeName)}")
  }

  test("retention stream: markerless replay converges; crash window heals; purge on cadence") {
    import spark.implicits._
    val corpus = docs.select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    DedupIndex.build(corpus, "spec_rs_dd", buckets = 4)
    LexIndex.build(corpus, "spec_rs_lx", buckets = 4)
    AnnIndex.build(vecs, "spec_rs_an", numCentroids = 8)
    graft.analytics.AnnGraphIndex.build(vecs, "spec_rs_gx", k = 4,
      rounds = 1, numCentroids = 8, buckets = 4)
    def statsTotals(): (Long, Long) = {
      val r = spark.table("spec_rs_lx_stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def batchOf(ids: Seq[Long]) =
      spark.createDataset(ids.map(graft.streaming.RetentionStream.DeleteRequest))

    val b0 = docs.filter(col("cb") < 5).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    graft.streaming.RetentionStream.processBatch(spark, batchOf(b0), 0L,
      "spec_rs_dd", "spec_rs_lx", "spec_rs_an",
      graphName = Some("spec_rs_gx"))
    val t0 = statsTotals()
    // replay the same batch — all four applies must be no-ops
    graft.streaming.RetentionStream.processBatch(spark, batchOf(b0), 0L,
      "spec_rs_dd", "spec_rs_lx", "spec_rs_an",
      graphName = Some("spec_rs_gx"))
    assert(statsTotals() == t0, "replayed delete batch moved the stats")

    // crash window: batch 1's ids reach the lex tombstone log but the node
    // dies before healStats (and before the other two appends) — the
    // streaming runtime then REPLAYS batch 1: the half-applied lex log
    // must not double-subtract, and the other surfaces apply fresh.
    // (The simulated append carries the stored dl, matching what
    // LexIndex.delete writes before it would have crashed.)
    val b1df = docs.filter(col("cb") >= 5 && col("cb") < 8).select("doc_id")
    Tombstones.append(
      b1df.join(spark.table("spec_rs_lx_dl"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("dl")),
      "spec_rs_lx", "doc_id", payloadCols = Seq("dl"))
    val b1 = b1df.collect().map(_.getLong(0)).toSeq
    graft.streaming.RetentionStream.processBatch(spark, batchOf(b1), 1L,
      "spec_rs_dd", "spec_rs_lx", "spec_rs_an",
      graphName = Some("spec_rs_gx"))
    val b2 = docs.filter(col("cb") >= 8 && col("cb") < 10).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    // purgeEvery = 3, batchId 2 → this batch also runs the physical purges
    graft.streaming.RetentionStream.processBatch(spark, batchOf(b2), 2L,
      "spec_rs_dd", "spec_rs_lx", "spec_rs_an", purgeEvery = 3,
      graphName = Some("spec_rs_gx"))
    // post-purge: totals equal a from-scratch build on the retained corpus
    val retained = docs.filter(col("cb") >= 10).select("doc_id", "text")
    LexIndex.build(retained, "spec_rs_lx_ref", buckets = 4)
    val ref = spark.table("spec_rs_lx_ref_stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
    assert(statsTotals() == ((ref.getLong(0), ref.getLong(1))),
      "streamed deletes + heal + purge drifted from a from-scratch build")
    assert(!spark.catalog.tableExists(Tombstones.tableOf("spec_rs_lx")))
    // dedup + ann surfaces forgot too
    val goneAll = docs.filter(col("cb") < 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rawIds("spec_rs_dd_sigs", "doc_id").intersect(goneAll).isEmpty)
    val annLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("spec_rs_an_cells")).location
    val annIds = spark.read.parquet(annLoc.toString).select(col("vec_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(annIds.intersect(goneAll).isEmpty,
      "ann cells still hold tombstoned vectors after the cadence purge")
    // the graph surface (round 10's fourth index) forgot too: both
    // bucketed tables purged at rest, its log retired
    assert(rawIds("spec_rs_gx_vectors", "vec_id").intersect(goneAll).isEmpty &&
      rawIds("spec_rs_gx_edges", "src").intersect(goneAll).isEmpty &&
      rawIds("spec_rs_gx_edges", "dst").intersect(goneAll).isEmpty,
      "graph index still holds tombstoned endpoints after the cadence purge")
    assert(!spark.catalog.tableExists(Tombstones.tableOf("spec_rs_gx")))
  }

  test("shard delete: only affected partitions rewritten; an emptied shard's partition is dropped") {
    val t = "spec_ret_shards"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    docs.select(col("doc_id"), col("text"),
        Sampling.shardOf(col("text"), 16).as("shard_id"))
      .write.mode("overwrite").format("parquet").partitionBy("shard_id")
      .saveAsTable(t)
    def partFiles(): Map[String, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("shard_id="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = partFiles()
    // tombstones: ALL of shard 3 (the emptied-partition trap) plus the
    // bucket-<10 docs of every other shard (the partial-rewrite path)
    val assigned = docs.select(col("doc_id"), col("text"), col("cb"),
      Sampling.shardOf(col("text"), 16).as("shard_id"))
    val gone = assigned.filter(col("shard_id") === 3 || col("cb") < 10)
      .select(col("doc_id"), col("shard_id"))
    val goneIds = gone.select("doc_id").collect().map(_.getLong(0)).toSet
    val affectedParts = gone.select("shard_id").distinct()
      .collect().map(r => s"shard_id=${r.getLong(0)}").toSet

    Sampling.deleteFromShards(spark, t, gone)
    val after = partFiles()
    assert(!after.contains("shard_id=3"),
      s"emptied shard's partition still on disk: ${after.keySet}")
    for ((p, files) <- before if !affectedParts(p))
      assert(after(p) == files, s"$p untouched by deletion but its files changed")
    val left = spark.table(t).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left.intersect(goneIds).isEmpty, "deleted doc still readable")
    assert(left == docs.select("doc_id").collect().map(_.getLong(0)).toSet -- goneIds,
      "retained docs lost by the rewrite")
  }

  test("shard upsert: edits move shards; only outgoing/incoming partitions touched") {
    val t = "spec_ret_upsert"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val v1 = docs.select(col("doc_id"), col("text"))
    v1.select(col("doc_id"), col("text"), Sampling.shardOf(col("text"), 16).as("shard_id"))
      .write.mode("overwrite").format("parquet").partitionBy("shard_id")
      .saveAsTable(t)
    def partFiles(): Map[String, Set[String]] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("shard_id="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = partFiles()
    // one edited doc whose new content lands in a DIFFERENT shard than the
    // old (guaranteed to exist at this corpus size; found, not assumed)
    val moved = v1.select(col("doc_id"),
        Sampling.shardOf(col("text"), 16).as("s_old"),
        Sampling.shardOf(concat(col("text"), lit(" v2")), 16).as("s_new"))
      .filter(col("s_old") =!= col("s_new")).limit(1).collect()(0)
    val (id, sOld, sNew) = (moved.getLong(0), moved.getLong(1), moved.getLong(2))
    val gone = v1.filter(col("doc_id") === id)
      .select(col("doc_id"), Sampling.shardOf(col("text"), 16).as("shard_id"))
    val incoming = v1.filter(col("doc_id") === id)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      .select(col("doc_id"), col("text"), Sampling.shardOf(col("text"), 16).as("shard_id"))
    Sampling.upsertShards(spark, t, gone, incoming)
    val after = partFiles()
    for ((p, files) <- before if p != s"shard_id=$sOld" && p != s"shard_id=$sNew")
      assert(after(p) == files, s"$p untouched by the upsert but its files changed")
    assert(after(s"shard_id=$sOld") != before(s"shard_id=$sOld"),
      "outgoing shard not rewritten")
    assert(after(s"shard_id=$sNew").size > before(s"shard_id=$sNew").size,
      "incoming shard gained no file")
    val row = spark.table(t).filter(col("doc_id") === id)
      .select(col("shard_id"), col("text")).collect()
    assert(row.length == 1 && row(0).getLong(0) == sNew &&
      row(0).getString(1).endsWith(" v2"),
      "edited doc must exist exactly once, in its new shard, with new content")
  }

  test("bucketed generation swap: bucket spec travels with the rename; probe answers roll forward") {
    val corpusV1 = docs.filter(col("cb") >= 30).select("doc_id", "text")
    val corpusV2 = docs.select("doc_id", "text") // the rebuild covers everything
    DedupIndex.build(corpusV1, "spec_swap_dd", buckets = 4)
    val probe = docs.filter(col("cb") < 30)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    def found(): Set[Long] =
      DedupIndex.nearDupsAgainst(spark, "spec_swap_dd", probe, 0.9)
        .filter(col("corpus_id") === col("new_id") - 10000000L)
        .select("new_id").collect().map(_.getLong(0)).toSet
    assert(found().isEmpty, "v1 index cannot know the bucket-<30 docs")
    DedupIndex.build(corpusV2, "spec_swap_dd_stg", buckets = 4)
    DedupIndex.swapIn(spark, "spec_swap_dd_stg", "spec_swap_dd")
    val afterSpec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("spec_swap_dd_sigs")).bucketSpec
    assert(afterSpec.exists(_.numBuckets == 4),
      s"bucket spec lost in the rename: $afterSpec")
    assert(found() == probe.select("doc_id").collect().map(_.getLong(0)).toSet,
      "swapped-in generation must find every planted copy")
    assert(!spark.catalog.tableExists("spec_swap_dd_stg_sigs"))
  }

  test("generation swap carries pending deletions forward — no resurrection at swap time") {
    // round-8 advice (medium): swapIn used to CLEAR the live tombstone log,
    // so a deletion request that arrived after the rebuild's corpus
    // snapshot (the staging build) was silently forgotten the moment the
    // new generation went live.
    val name = "spec_swap_carry"
    val stg = name + "_stg"
    val corpus = docs.filter(col("cb") >= 10).select("doc_id", "text")
    DedupIndex.build(corpus, name, buckets = 4)
    DedupIndex.build(corpus, stg, buckets = 4) // rebuild snapshot still holds the docs
    val gone = docs.filter(col("cb") >= 10 && col("cb") < 20).select("doc_id")
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    DedupIndex.delete(gone, name) // arrives AFTER the staging snapshot
    DedupIndex.swapIn(spark, stg, name)
    val probe = docs.filter(col("cb") >= 10 && col("cb") < 30)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val found = DedupIndex.nearDupsAgainst(spark, name, probe, 0.9)
      .filter(col("corpus_id") === col("new_id") - 10000000L)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(found.intersect(goneIds).isEmpty,
      "tombstoned docs resurrected by the generation swap")
    assert(found.nonEmpty, "vacuous: no retained planted copy found")
    // the carried log retires at the next purge-on-compact as usual
    DedupIndex.compact(spark, name)
    assert(rawIds(s"${name}_sigs", "doc_id").intersect(goneIds).isEmpty,
      "carried tombstones not purged by the post-swap compact")
    assert(!spark.catalog.tableExists(Tombstones.tableOf(name)))
  }

  test("lex generation swap: carried deletions re-anchor — no double-subtract, no resurrection") {
    // round-9 review finding: a carried log entry whose doc the rebuild
    // ALREADY excluded must not re-subtract its stored dl from the fresh
    // stats (they never counted it — doing so understates n_docs/avgdl
    // forever); one whose doc the rebuild still contains must subtract,
    // with dl re-resolved from the new generation.
    val name = "spec_swap_lex"
    val stg = name + "_stg"
    LexIndex.build(docs.select("doc_id", "text"), name, buckets = 4)
    val goneA = docs.filter(col("cb") < 10).select("doc_id")
    LexIndex.delete(goneA, name) // known to the operator before the rebuild
    // the rebuild snapshot is the merge-on-read corpus — EXCLUDES goneA
    LexIndex.build(docs.filter(col("cb") >= 10).select("doc_id", "text"),
      stg, buckets = 4)
    // this request lands after the snapshot: the rebuild still contains it
    val goneB = docs.filter(col("cb") >= 10 && col("cb") < 20).select("doc_id")
    LexIndex.delete(goneB, name)
    LexIndex.swapIn(spark, stg, name)
    def statsTotals(n: String): (Long, Long) = {
      val r = spark.table(s"${n}_stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val fresh = "spec_swap_lex_fresh"
    LexIndex.build(docs.filter(col("cb") >= 20).select("doc_id", "text"),
      fresh, buckets = 4)
    assert(statsTotals(name) == statsTotals(fresh),
      "post-swap stats drifted from a fresh build on the retained corpus " +
        s"(${statsTotals(name)} vs ${statsTotals(fresh)})")
    assert(LexIndex.bm25Against(spark, name).collect().map(_.toSeq).toSet ==
      LexIndex.bm25Against(spark, fresh).collect().map(_.toSeq).toSet,
      "post-swap served BM25 differs from a fresh index on the retained corpus")
    // the re-anchored log keeps EVERY request: post-snapshot deletions
    // with their new-generation dl (they subtract), rebuild-excluded ones
    // at NULL dl (nothing to subtract unless the doc ever re-arrives)
    val perId = spark.table(Tombstones.tableOf(name))
      .groupBy(col("id")).agg(max(col("dl")).as("dl"))
    val nonNull = perId.filter(col("dl").isNotNull)
      .collect().map(_.getLong(0)).toSet
    val nullDl = perId.filter(col("dl").isNull)
      .collect().map(_.getLong(0)).toSet
    val bIds = goneB.collect().map(_.getLong(0)).toSet
    val aIds = goneA.collect().map(_.getLong(0)).toSet
    assert(nonNull == bIds,
      s"resolved-dl entries should be exactly the post-snapshot deletions")
    assert(nullDl == aIds,
      s"rebuild-excluded requests must survive at NULL dl")
  }

  test("lex swap: pending delete for a NOT-yet-indexed doc survives the re-anchor") {
    // round-9 review (second pass): the re-anchor must keep NULL-dl log
    // entries — a delete that predates the doc's arrival. Dropping them
    // would let the doc serve when it later arrives via extend.
    val name = "spec_swap_lex2"
    val stg = name + "_stg"
    val corpus = docs.filter(col("cb") >= 20).select("doc_id", "text")
    LexIndex.build(corpus, name, buckets = 4)
    val future = docs.filter(col("cb") >= 10 && col("cb") < 20)
    LexIndex.delete(future.select("doc_id"), name) // logs (id, NULL): not indexed yet
    LexIndex.build(corpus, stg, buckets = 4)
    LexIndex.swapIn(spark, stg, name)
    val logged = spark.table(Tombstones.tableOf(name))
      .select("id").distinct().count()
    assert(logged == future.count(),
      "NULL-dl entries dropped by the swap re-anchor")
    // the doc arrives later — it must be filtered, and a heal resolves
    // its dl so the stats match an index that never admitted it
    LexIndex.extend(future.select("doc_id", "text"), name)
    LexIndex.healStats(spark, name)
    val fresh = "spec_swap_lex2_fresh"
    LexIndex.build(corpus, fresh, buckets = 4)
    def statsTotals(n: String): (Long, Long) = {
      val r = spark.table(s"${n}_stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(statsTotals(name) == statsTotals(fresh),
      "late-arriving tombstoned docs leaked into the stats")
    assert(LexIndex.bm25Against(spark, name).collect().map(_.toSeq).toSet ==
      LexIndex.bm25Against(spark, fresh).collect().map(_.toSeq).toSet,
      "late-arriving tombstoned docs leaked into served BM25")
  }

  test("tombstone log: an interrupted staging-rename heals on the next access") {
    // round-9 review (second pass): a MISSING log table normally means
    // 'no deletions pending', so a log rewrite crashed between DROP and
    // RENAME would silently serve every tombstoned doc and the next
    // append would orphan the staged ids forever. Every accessor heals.
    val name = "spec_ts_heal"
    LexIndex.build(docs.select("doc_id", "text"), name, buckets = 4)
    val gone = docs.filter(col("cb") < 10).select("doc_id")
    LexIndex.delete(gone, name)
    val served = LexIndex.bm25Against(spark, name).collect().map(_.toSeq).toSet
    // simulate the crash: staged copy durable, live name gone
    val t = Tombstones.tableOf(name)
    spark.table(t).write.format("parquet").saveAsTable(t + "__staging")
    spark.sql(s"DROP TABLE $t")
    assert(Tombstones.of(spark, name).isDefined,
      "missing log read as empty — staged ids orphaned")
    assert(LexIndex.bm25Against(spark, name).collect().map(_.toSeq).toSet
      == served, "healed log no longer filters the tombstoned docs")
  }

  test("lex stats heal survives a compact that crashed between the purge and the log reset") {
    // round-8 advice (medium): with the dl rows physically purged but the
    // tombstone log still present, the next heal used to compute target=0
    // vs have=D and append a +D 'correction', permanently overstating
    // n_docs/avgdl. The stored-dl target makes that window reconcile to a
    // zero delta.
    val name = "spec_ret_lexcrash"
    LexIndex.build(docs.select("doc_id", "text"), name, buckets = 4)
    val goneA = docs.filter(col("cb") < 10).select("doc_id")
    LexIndex.delete(goneA, name)
    // simulate the crash: both physical purges completed, the process died
    // BEFORE Tombstones.clear — a stale log over purged tables
    graft.sink.Bucketed.compactBucketed(spark, s"${name}_postings", "term",
      Tombstones.filter(_, name, "doc_id"))
    graft.sink.Bucketed.compactBucketed(spark, s"${name}_dl", "doc_id",
      Tombstones.filter(_, name, "doc_id"))
    // the next delete's heal must not un-subtract the completed purge
    val goneB = docs.filter(col("cb") >= 10 && col("cb") < 20).select("doc_id")
    LexIndex.delete(goneB, name)
    def statsTotals(n: String): (Long, Long) = {
      val r = spark.table(s"${n}_stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val fresh = "spec_ret_lexcrash_fresh"
    LexIndex.build(docs.filter(col("cb") >= 20).select("doc_id", "text"),
      fresh, buckets = 4)
    assert(statsTotals(name) == statsTotals(fresh),
      "heal after the crash window drifted from a from-scratch count")
    assert(LexIndex.bm25Against(spark, name).collect().map(_.toSeq).toSet ==
      LexIndex.bm25Against(spark, fresh).collect().map(_.toSeq).toSet,
      "served BM25 after the crash window differs from a fresh index")
  }

  test("compactBucketed: a crash between DROP and RENAME heals on the next pass") {
    // round-8 advice (medium): the old compact dropped the table and
    // deleted its files BEFORE writing the snapshot — a crash in that
    // window permanently destroyed the index table. The staging-then-
    // rename shape leaves the completed snapshot recoverable instead.
    import spark.implicits._
    val t = "spec_heal_tbl"
    graft.sink.Bucketed.writeBucketed(
      (1L to 50L).map(i => (i, s"payload $i")).toDF("k", "v"), t, "k", 4)
    val before = spark.table(t).collect().map(_.toSeq).toSet
    // simulate the crash: the completed snapshot sits under the staging
    // name and the live name is gone
    spark.table(t).write.bucketBy(4, "k").sortBy("k").format("parquet")
      .saveAsTable(t + "__staging")
    spark.sql(s"DROP TABLE $t")
    assert(!spark.catalog.tableExists(t))
    graft.sink.Bucketed.compactBucketed(spark, t, "k") // heals, then compacts
    assert(spark.table(t).collect().map(_.toSeq).toSet == before,
      "healed table lost rows")
    assert(!spark.catalog.tableExists(t + "__staging"), "staging left behind")
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).bucketSpec
    assert(spec.exists(_.numBuckets == 4), s"bucket spec lost: $spec")
  }

  test("plan: the shard-delete rewrite scan is partition-pruned to the affected shards") {
    val t = "spec_ret_dpp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    docs.select(col("doc_id"), col("text"),
        Sampling.shardOf(col("text"), 16).as("shard_id"))
      .write.mode("overwrite").format("parquet").partitionBy("shard_id")
      .saveAsTable(t)
    // the exact join shape deleteFromShards snapshots: semi on the
    // partition column against the (broadcast) affected-shard list, anti
    // on the tombstoned ids — the semi must reach the scan as a dynamic
    // partition filter, or a 100 TB delete would read the whole layout
    val gone = docs.filter(col("cb") < 3)
      .select(col("doc_id"), Sampling.shardOf(col("text"), 16).as("shard_id"))
    val affected = gone.select(col("shard_id")).distinct()
    val snap = spark.table(t)
      .join(broadcast(affected), Seq("shard_id"), "left_semi")
      .join(broadcast(gone.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    snap.count()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scans = helper.collectWithSubqueries(snap.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.toString.contains(t) => s
    }
    assert(scans.nonEmpty, "layout scan not found")
    assert(scans.exists(_.toString.contains("dynamicpruning")),
      s"shard-delete scan reads the whole layout:\n${scans.map(_.toString).mkString}")
  }

  test("shard upsert stream: commit marker, crash scrub, exactly-once layout content") {
    import spark.implicits._
    import graft.streaming.ShardUpsertStream
    import graft.streaming.ShardUpsertStream.DocChange
    val t = "spec_shard_cdc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val base = docs.filter(col("cb") >= 50).select(col("doc_id"), col("text"))
    base.select(col("doc_id"), col("text"),
        Sampling.shardOf(col("text"), 16).as("shard_id"))
      .write.mode("overwrite").format("parquet").partitionBy("shard_id")
      .saveAsTable(t)
    val tmp = java.nio.file.Files.createTempDirectory("cdc_state").toString
    def content(): Map[Long, String] =
      spark.table(t).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val v0 = content()
    val editId = v0.keys.min
    val delId = v0.keys.max
    val b0 = Seq(
      DocChange(9000001L, "brand new doc alpha", deleted = false),
      DocChange(editId, v0(editId) + " EDITED", deleted = false),
      DocChange(delId, "", deleted = true))
    ShardUpsertStream.processBatch(spark, t, spark.createDataset(b0), 0L, tmp)
    val v1 = content()
    assert(v1(9000001L) == "brand new doc alpha")
    assert(v1(editId) == v0(editId) + " EDITED")
    assert(!v1.contains(delId))
    assert(v1.size == v0.size, "upsert changed the cardinality beyond the delete+add")

    // fully-committed replay: the marker short-circuits
    ShardUpsertStream.processBatch(spark, t, spark.createDataset(b0), 0L, tmp)
    assert(content() == v1, "marker-committed replay changed the layout")

    // crash window: batch 1's append leg half-committed (rows written,
    // marker missing) — the replay's scrub must remove the duplicates
    // before re-appending, landing on exactly-once content
    val b1 = Seq(DocChange(9000002L, "brand new doc beta", deleted = false))
    val half = spark.createDataset(b1).toDF()
      .select(col("doc_id"), col("text"),
        Sampling.shardOf(col("text"), 16).as("shard_id"))
    half.select(spark.table(t).columns.toIndexedSeq.map(col): _*)
      .write.mode("append").insertInto(t)
    assert(spark.table(t).filter(col("doc_id") === 9000002L).count() == 1L)
    ShardUpsertStream.processBatch(spark, t, spark.createDataset(b1), 1L, tmp)
    assert(spark.table(t).filter(col("doc_id") === 9000002L).count() == 1L,
      "replay after a half-committed append duplicated the document")
    val v2 = content()
    assert(v2 - 9000002L == v1, "the crash replay disturbed unrelated rows")
  }

  test("index audit: green on a correct build; flags orphans and a torn extend") {
    val corpus = docs.filter(col("cb") >= 50).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    DedupIndex.build(corpus, "spec_audit_dd", buckets = 4)
    LexIndex.build(corpus, "spec_audit_lx", buckets = 4)
    AnnIndex.build(vecs, "spec_audit_an", numCentroids = 8)
    def verdicts(): Map[String, (Boolean, Boolean)] =
      IndexAudit.audit(spark, corpus, vecs,
          "spec_audit_dd", "spec_audit_lx", "spec_audit_an")
        .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(verdicts().values.forall(v => v._1 && v._2),
      s"fresh build must audit green: ${verdicts()}")

    // a TORN extend — postings appended, dl/stats crash before their
    // writes: postings now hold a doc the dl table doesn't know
    val extra = docs.filter(col("cb") >= 40 && col("cb") < 50)
      .select("doc_id", "text")
    LexIndex.postingsOf(extra).write.mode("append")
      .bucketBy(4, "term").sortBy("term").format("parquet")
      .saveAsTable("spec_audit_lx_postings")
    val v = verdicts()
    assert(!v("lex_postings")._1 && !v("lex_postings")._2,
      s"torn extend not flagged: $v")
    assert(v("lex_dl")._1 && v("lex_stats")._1,
      s"torn extend must localize to the postings surface: $v")
  }

  test("forget gate: a dd-family BUILD failure fails the gate instead of deadlocking it") {
    // the round-13 ADVICE deadlock: ddDeleteDone used to count down only in
    // del()'s finally, which is never entered when the dd family's build
    // throws — the lmcount leg then awaited forever and fail-slow Par hung
    // the whole gate. The named injection lands the fault exactly there
    // (after the dd build's durable writes, before del()); the fixed latch
    // discipline must surface the failure as a thrown gate, bounded time.
    graft.sink.CrashPoints.armAt("trio.dd.built")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      try { IndexAudit.forgetGate(spark, sf("sf0.001")); () }
      catch { case e: Throwable => err.set(e) }
      finally done.countDown()
    })
    t.setDaemon(true) // a regression must fail the assert, not wedge sbt
    t.start()
    try
      assert(done.await(300, java.util.concurrent.TimeUnit.SECONDS),
        "forget gate deadlocked on a dd-family build failure (lmcount latch)")
    finally graft.sink.CrashPoints.disarm()
    def hasInjected(e: Throwable): Boolean =
      e != null && (e.isInstanceOf[graft.sink.CrashPoints.CrashInjected] ||
        hasInjected(e.getCause))
    assert(hasInjected(err.get),
      s"gate must rethrow the dd build failure, got: ${err.get}")
  }

  test("lex swap: a crash between the _dl and _stats renames recovers by re-running swapIn") {
    // round-9 ADVICE (medium): in this window the staging dl is already
    // renamed onto the live name, so a re-run's re-anchor used to throw
    // Table-not-found on `${stg}_dl` — leaving the live name serving the
    // new generation's postings/dl under the OLD generation's stats with
    // no recovery path. The tableExists guard skips straight to the
    // remaining renames + final heal.
    val name = "spec_swap_crash"
    val stg = name + "_stg"
    LexIndex.build(docs.select("doc_id", "text"), name, buckets = 4)
    val gone = docs.filter(col("cb") < 10).select("doc_id")
    LexIndex.delete(gone, name) // pending at swap time — exercises the rebase
    val retained = docs.filter(col("cb") >= 10).select("doc_id", "text")
    LexIndex.build(retained, stg, buckets = 4)
    // steps 1–3 exactly as swapIn runs them (durable, idempotent) …
    LexIndex.reanchorLog(spark, stg, name)
    // … then TableSwap crashes AFTER the _dl rename, BEFORE _stats
    for (suffix <- Seq("_postings", "_dl")) {
      spark.sql(s"DROP TABLE IF EXISTS $name$suffix")
      spark.sql(s"ALTER TABLE $stg$suffix RENAME TO $name$suffix")
    }
    assert(spark.catalog.tableExists(s"${stg}_stats") &&
      !spark.catalog.tableExists(s"${stg}_dl"), "crash state not as planned")
    // the documented recovery: re-run THIS method
    LexIndex.swapIn(spark, stg, name)
    val fresh = "spec_swap_crash_fresh"
    LexIndex.build(retained, fresh, buckets = 4)
    def statsTotals(n: String): (Long, Long) = {
      val r = spark.table(s"${n}_stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(statsTotals(name) == statsTotals(fresh),
      "recovered swap's stats drifted from a fresh build " +
        s"(${statsTotals(name)} vs ${statsTotals(fresh)})")
    assert(LexIndex.bm25Against(spark, name).collect().map(_.toSeq).toSet ==
      LexIndex.bm25Against(spark, fresh).collect().map(_.toSeq).toSet,
      "recovered swap serves wrong BM25")
    assert(!spark.catalog.tableExists(s"${stg}_stats"),
      "staging stats left behind after recovery")
  }

  test("heal of an interrupted replace clears stale files at the live path first") {
    // round-9 ADVICE (low): live table absent from the in-memory catalog
    // but stale prior-session files present at its default path (DROP
    // no-op'd, crash before the explicit fs.delete). The RENAME must not
    // land in a non-empty destination directory.
    import spark.implicits._
    val t = "spec_heal_stale"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}__staging")
    val next = (100L to 120L).map(i => (i, s"gen2 $i")).toDF("k", "v")
    next.write.bucketBy(4, "k").sortBy("k").format("parquet")
      .saveAsTable(t + "__staging")
    // stale prior-session files at the path the live name will claim
    val loc = graft.sink.ManagedPaths.pathOf(spark, t)
    (1L to 50L).map(i => (i, s"stale $i")).toDF("k", "v")
      .write.mode("overwrite").parquet(loc.toString)
    assert(!spark.catalog.tableExists(t))
    assert(graft.sink.Bucketed.healInterruptedReplace(spark, t),
      "heal did not fire")
    assert(spark.table(t).collect().map(_.toSeq).toSet ==
      next.collect().map(_.toSeq).toSet,
      "healed table does not serve the staged generation exactly")
    assert(!spark.catalog.tableExists(t + "__staging"), "staging left behind")
  }

  test("tombstone log: only DECLARED payload columns persist; missing ones fail at the call site") {
    // round-9 ADVICE (low): a wide request frame used to ride every extra
    // column into the persisted log — silently storing payloads (text!)
    // and arming a schema mismatch on a later cross-family append.
    import spark.implicits._
    val name = "spec_ts_payload"
    Tombstones.clear(spark, name)
    val wide = Seq((1L, 10L, "the doc text must NOT persist"))
      .toDF("doc_id", "dl", "text")
    Tombstones.append(wide, name, "doc_id", payloadCols = Seq("dl"))
    assert(spark.table(Tombstones.tableOf(name)).columns.toSet ==
      Set("id", "dl"),
      "undeclared columns persisted into the log")
    // a declared payload column the frame lacks fails HERE, not at a
    // later append against a differently-shaped log
    intercept[org.apache.spark.sql.AnalysisException] {
      Tombstones.newIds(Seq(2L).toDF("doc_id"), name, "doc_id", Seq("dl"))
    }
    Tombstones.clear(spark, name)
  }
}
