package graft

import org.apache.spark.sql.functions._
import graft.analytics.{LexIndex, Sampling, TextStats}

/** Persisted inverted index + incremental BM25 (q179). */
class LexIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf("sf0.01"))
    .select(col("doc_id"), col("text"),
      Sampling.contentBucket(col("text")).as("cb"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** Spark jobs of one LexIndexStream batch (the stage write, one
    * marker-guarded extend and a compaction) on a one-bucket index. */
  private val LexBatchJobs = 20

  /** Spark jobs of one batch [[LexIndex.extend]] of ten docs: postings and
    * dl materialize once each (the stats row is observed in dl's job),
    * then the two bucketed appends and the one-row stats append. */
  private val LexExtendJobs = 9

  /** Spark jobs of a default-width build of the `cb ≥ 50` slice: the
    * postings count that sizes the width rides the materializing job. */
  private val LexBuildJobs = 11

  private def nFiles(t: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet"))
  }

  private def widthOf(t: String): Int = graft.sink.Bucketed.bucketsOf(spark, t)

  test("index-served BM25 equals the from-scratch computation") {
    val corpus = docs.select("doc_id", "text")
    LexIndex.build(corpus, "spec_lex_eq", buckets = 4)
    import spark.implicits._
    val qterms = TextStats.RetrievalQueries
      .flatMap { case (qid, s) => s.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    assert(rows(LexIndex.bm25Against(spark, "spec_lex_eq"))
      == rows(TextStats.bm25On(corpus, qterms, 10)))
  }

  test("dl derived from postings equals the direct tokenize pass (dl = Σ tf)") {
    // the round-14 single-tokenize build/extend path rides on this
    // identity — a drift here would silently shift every BM25 score
    val corpus = docs.select("doc_id", "text")
    assert(rows(LexIndex.dlFromPostings(LexIndex.postingsOf(corpus)))
      == rows(LexIndex.dlOf(corpus)))
  }

  test("build(A)+extend(B) ≡ build(A∪B): postings, lengths, and stats deltas all merge") {
    val a = docs.filter(col("cb") >= 40).select("doc_id", "text")
    val b = docs.filter(col("cb") < 40).select("doc_id", "text")
    LexIndex.build(a, "spec_lex_ext", buckets = 4)
    LexIndex.extend(b, "spec_lex_ext")
    LexIndex.build(a.unionByName(b), "spec_lex_all", buckets = 4)
    assert(rows(LexIndex.bm25Against(spark, "spec_lex_ext"))
      == rows(LexIndex.bm25Against(spark, "spec_lex_all")))
    val cat = spark.sql("DESCRIBE EXTENDED spec_lex_ext_postings")
      .filter(col("col_name") === "Num Buckets").collect()
    assert(cat.length == 1 && cat(0).getString(1).trim == "4")
  }

  test("compact: file count collapses, bucket spec survives, answers unchanged") {
    val a = docs.filter(col("cb") >= 40).select("doc_id", "text")
    val b = docs.filter(col("cb") < 40).select("doc_id", "text")
    LexIndex.build(a, "spec_lex_cmp", buckets = 4)
    LexIndex.extend(b, "spec_lex_cmp")
    val before = rows(LexIndex.bm25Against(spark, "spec_lex_cmp"))
    assert(nFiles("spec_lex_cmp_postings") > 4, "extend must have appended files")
    LexIndex.compact(spark, "spec_lex_cmp")
    assert(nFiles("spec_lex_cmp_postings") <= 4, "one file per bucket after compact")
    assert(spark.table("spec_lex_cmp_stats").count() == 1, "stats log folded to one row")
    val cat = spark.sql("DESCRIBE EXTENDED spec_lex_cmp_postings")
      .filter(col("col_name") === "Num Buckets").collect()
    assert(cat.length == 1 && cat(0).getString(1).trim == "4")
    assert(rows(LexIndex.bm25Against(spark, "spec_lex_cmp")) == before)
  }

  test("growth: compact widens a one-bucket build to its live rows; answers ≡ from-scratch") {
    import graft.sink.Bucketed
    // clamp boundaries of the pure derivation: a table that fits one
    // bucket gets ONE, the next row opens a second
    val target = 1L << 20
    assert(Bucketed.derivedBuckets(spark, 0L) == 1, "floor")
    assert(Bucketed.derivedBuckets(spark, target) == 1, "one full bucket")
    assert(Bucketed.derivedBuckets(spark, target + 1) == 2, "first split")
    assert(Bucketed.derivedBuckets(spark, Long.MaxValue / 2) == 4096, "ceiling")
    val all = docs.select("doc_id", "text")
    val a = docs.filter(col("cb") >= 40).select("doc_id", "text")
    val b = docs.filter(col("cb") < 40).select("doc_id", "text")
    val name = "spec_lex_grow"
    LexIndex.build(a, name)
    assert(widthOf(s"${name}_postings") == 1 && widthOf(s"${name}_dl") == 1,
      "a default build of a small corpus is not one bucket")
    LexIndex.extend(b, name)
    // a rows-per-bucket target of a third of the docs: the compaction must
    // re-derive each table's width from its own live rows
    val tiny = (spark.table(s"${name}_dl").count() + 2) / 3
    spark.conf.set("spark.graft.rows.per.bucket", tiny.toString)
    try LexIndex.compact(spark, name)
    finally spark.conf.unset("spark.graft.rows.per.bucket")
    val widths = Seq("_postings" -> "term", "_dl" -> "doc_id").map { case (sfx, key) =>
      val w = ((spark.table(name + sfx).count() + tiny - 1) / tiny).toInt
      assert(w > 1 && widthOf(name + sfx) == w,
        s"$sfx width ${widthOf(name + sfx)}, expected $w")
      // one file per bucket that holds rows (the bucket id is the writer's
      // Murmur3 pmod; the corpus's small vocabulary leaves postings
      // buckets empty)
      val live = spark.table(name + sfx)
        .select(pmod(hash(col(key)), lit(w))).distinct().count()
      assert(nFiles(name + sfx) == live,
        s"$sfx holds ${nFiles(name + sfx)} files for $live non-empty of $w buckets")
      sfx -> w
    }
    LexIndex.build(all, s"${name}_all", buckets = 4)
    val scratch = rows(LexIndex.bm25Against(spark, s"${name}_all"))
    assert(rows(LexIndex.bm25Against(spark, name)) == scratch,
      "the widened index serves differently from a from-scratch build")
    // a later compaction at the default target never narrows the tables
    LexIndex.compact(spark, name)
    widths.foreach { case (sfx, w) =>
      assert(widthOf(name + sfx) == w, s"default compact changed $sfx to ${widthOf(name + sfx)}")
    }
    assert(rows(LexIndex.bm25Against(spark, name)) == scratch)
  }

  test("job-count pin: one standing batch with a compaction on a default-built index") {
    import spark.implicits._
    import graft.streaming.LexIndexStream
    val name = "spec_lex_jobs"
    val buildJobs = JobCount.of(spark)(
      LexIndex.build(docs.filter(col("cb") >= 50).select("doc_id", "text"), name))
    info(s"jobs per default build: $buildJobs")
    assert(buildJobs == LexBuildJobs, s"the build ran $buildJobs jobs (pinned $LexBuildJobs)")
    val fresh = docs.filter(col("cb") >= 20 && col("cb") < 50)
      .select("doc_id", "text").limit(10).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
      .localCheckpoint()
    val jobs = JobCount.of(spark)(LexIndexStream.processBatch(spark, name,
      fresh, 0L, java.nio.file.Files.createTempDirectory("lex_jobs").toString,
      compactEvery = 1))
    info(s"jobs per standing batch: $jobs")
    assert(jobs == LexBatchJobs,
      s"one standing batch ran $jobs jobs (pinned $LexBatchJobs)")
    Seq("_postings", "_dl").foreach { sfx =>
      assert(widthOf(name + sfx) == 1 && nFiles(name + sfx) == 1,
        s"$sfx: ${nFiles(name + sfx)} files for ${widthOf(name + sfx)} buckets")
    }
    val more = docs.filter(col("cb") < 20)
      .select("doc_id", "text").limit(10).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
      .localCheckpoint()
    val extendJobs = JobCount.of(spark)(LexIndex.extend(more, name))
    info(s"jobs per batch extend: $extendJobs")
    assert(extendJobs == LexExtendJobs,
      s"one batch extend ran $extendJobs jobs (pinned $LexExtendJobs)")
  }

  test("streaming loop: batches extend the index exactly once, replay and partial commits heal") {
    import graft.streaming.LexIndexStream
    import graft.sink.CrashPoints
    val all = docs.select("doc_id", "text")
    val a = all.filter(col("doc_id") % 3 === 0)
    val b = all.filter(col("doc_id") % 3 === 1)
    val c = all.filter(col("doc_id") % 3 === 2)
    val work = java.nio.file.Files.createTempDirectory("lexstream").toString
    LexIndex.build(a, "spec_lex_str", buckets = 4)
    LexIndexStream.processBatch(spark, "spec_lex_str", b, 0L, work)
    // full replay of a committed batch: must be a no-op
    LexIndexStream.processBatch(spark, "spec_lex_str", b, 0L, work)
    // partial-commit crash: batch 1 dies in the extend's dl leg — postings
    // land with their marker, dl and stats do not
    CrashPoints.armAt("lex.extend.dl")
    try intercept[CrashPoints.CrashInjected](
      LexIndexStream.processBatch(spark, "spec_lex_str", c, 1L, work))
    finally CrashPoints.disarm()
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marked(m: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$work/_committed/$m"))
    assert(marked("b=1.postings") && !marked("b=1.dl") && !marked("b=1.stats"))
    // the replayed batch must finish dl+stats WITHOUT re-appending postings
    LexIndexStream.processBatch(spark, "spec_lex_str", c, 1L, work)
    LexIndex.build(all, "spec_lex_str_all", buckets = 4)
    assert(rows(LexIndex.bm25Against(spark, "spec_lex_str"))
      == rows(LexIndex.bm25Against(spark, "spec_lex_str_all")),
      "streamed index must equal a from-scratch build over all arrivals")
    // a committed batch leaves no staging copy behind
    val stage = new org.apache.hadoop.fs.Path(s"$work/stage")
    assert(!fs.exists(stage) || fs.listStatus(stage).isEmpty,
      s"stage directories left: ${fs.listStatus(stage).map(_.getPath.getName).mkString(",")}")
  }

  test("an empty stream batch commits and leaves the stats totals unchanged") {
    import graft.streaming.LexIndexStream
    val name = "spec_lex_empty"
    LexIndex.build(docs.filter(col("cb") >= 50).select("doc_id", "text"), name)
    def totals() = spark.table(s"${name}_stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect()(0).toSeq
    val before = totals()
    val work = java.nio.file.Files.createTempDirectory("lex_empty").toString
    LexIndexStream.processBatch(spark, name,
      docs.select("doc_id", "text").limit(0), 0L, work, compactEvery = 1)
    assert(totals() == before)
    assert(new java.io.File(s"$work/_committed/b=0").exists, "the empty batch did not commit")
  }

  test("probe plan prunes postings buckets to the query terms") {
    LexIndex.build(docs.select("doc_id", "text"), "spec_lex_prune", buckets = 4)
    val q = LexIndex.bm25Against(spark, "spec_lex_prune")
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // the postings scan must advertise bucket pruning (isin on the bucket
    // column), not a full-table read
    assert(plan.contains("SelectedBucketsCount"),
      s"no bucket pruning in postings probe plan:\n${plan.take(2000)}")
  }
}
