package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import graft.analytics.{AnnGraphIndex, AnnIndex, DedupIndex, LexIndex}
import graft.functions.Par
import graft.streaming.{AnnGraphIndexStream, AnnIndexStream, DedupIndexStream, LexIndexStream}

/** The four persisted index families under a standing write load. Set-up
  * builds each index on a seeded base corpus and starts its streaming twin
  * on a `MemoryStream`. Each step adds one arrival batch (every fifth row a
  * planted near-duplicate of a base row) to all four streams, which run
  * concurrently as standing queries do, and waits until each has committed
  * it (`processAllAvailable`); then one client runs a fixed read set
  * against every index. The first batch also pays each stream's first
  * planning, as a freshly started standing query does. The run ends with
  * delete, compact, and rebuild plus `swapIn`, each verb applied to the
  * four families together; the loop's last reads, and reads after the
  * delete and after the compaction, check the answers. */
final class IndexMaintenance extends Workload {
  import IndexMaintenance._

  private var fams: Seq[Family] = Nil
  private var corpus: Corpus = _
  private val planted = mutable.ArrayBuffer.empty[Long]
  private val arrived = mutable.ArrayBuffer.empty[Long]
  private var inputBytes = 0L
  private val files = mutable.ArrayBuffer.empty[(Long, Long)]
  /** The answers of the loop's last reads, by family. */
  private val lastAnswers = mutable.HashMap.empty[String, Set[Seq[Any]]]
  private var dir: String = _

  /** The seeded base rows, the read set and the rows deleted at the end.
    * Each doc deleted at the end carries a marker word of its own, which
    * one of the `bm25Against` queries asks for, so that read returns it
    * until the delete. */
  private final class Corpus(seed: Long) {
    private val rng = new Gen.Rng(seed ^ 0xba5eL)
    val centers: IndexedSeq[Array[Double]] = Gen.centers(seed)
    private val texts = (0 until BaseDocs).map(_ => Gen.docText(rng))
    private val marked = (0 until Deleted).map(i => longAt(i * (BaseDocs / Probes)) -> i).toMap
    val docs: IndexedSeq[(Long, String)] = texts.indices.map { i =>
      (i.toLong, marked.get(i).fold(texts(i))(m => s"${texts(i)} ${Marker(m)}"))
    }
    val vecs: IndexedSeq[(Long, Array[Double])] =
      (0 until BaseVecs).map(i => (i.toLong, Gen.vector(rng, centers(rng.int(Gen.Labels)))))

    /** The first base doc at or after `from` with at least 40 words: a
      * one-word edit keeps its Jaccard similarity above 0.85. */
    private def longAt(from: Int): Int =
      Iterator.iterate(from)(i => (i + 1) % BaseDocs).find(texts(_).count(_ == ' ') >= 39).get

    def longDoc(from: Int): (Long, String) = docs(longAt(from))

    private val probeRng = new Gen.Rng(seed ^ 0x9b0e5L)
    private val sources = (0 until Probes).map(i => longDoc(i * (BaseDocs / Probes)))
    val probeDocs: Seq[(Long, String)] =
      sources.zipWithIndex.map { case ((_, t), i) => (ProbeIdBase + i, Gen.nearCopy(probeRng, t)) } ++
        (0 until Probes).map(i => (ProbeIdBase + 100 + i, Gen.docText(probeRng)))
    /** Query ids lie outside the vector ids: a vector index read leaves
      * out the row whose id equals the query's. */
    val probeVecs: Seq[(Long, Seq[Double])] =
      (0 until Probes).map(i => (ProbeIdBase + i, vecs(i * (BaseVecs / Probes))._2.toSeq)) ++
        (0 until Probes).map(i => (ProbeIdBase + 100 + i, Gen.vector(probeRng, centers(i % Gen.Labels)).toSeq))
    val deletedDocs: Seq[Long] = sources.take(Deleted).map(_._1)
    val deletedVecs: Seq[Long] = (0 until Deleted).map(i => vecs(i * (BaseVecs / Probes))._1)

    def hash(h: Gen.InputHash): Unit = {
      docs.foreach { case (id, t) => h.update(s"$id\u0001$t") }
      vecs.foreach { case (id, v) => h.update(s"$id\u0001${v.mkString(",")}") }
    }
  }

  /** One arrival batch: doc and vector rows, and the planted doc ids. */
  private def arrivals(seed: Long, i: Int): (Seq[(Long, String)], Seq[(Long, Seq[Double])], Seq[Long]) = {
    val rng = new Gen.Rng(seed * 7919L + i)
    val ids = (0 until BatchRows).map(j => ArrivalIdBase + i.toLong * BatchRows + j)
    val docs = ids.map { id =>
      if (id % PlantEvery == 0) (id, Gen.nearCopy(rng, corpus.longDoc(rng.int(BaseDocs))._2))
      else (id, Gen.docText(rng))
    }
    val vecs = ids.map { id =>
      if (id % PlantEvery == 0) (id, corpus.vecs(rng.int(BaseVecs))._2.map(_ * 2.0).toSeq)
      else (id, Gen.vector(rng, corpus.centers(rng.int(Gen.Labels))).toSeq)
    }
    (docs, vecs, ids.filter(_ % PlantEvery == 0))
  }

  /** One index family: its batch verbs, its stream and its read. */
  private abstract class Family(val name: String, val table: String) {
    var query: StreamingQuery = _
    var lastBatch = -1L
    def build(): Unit
    def writer(dir: String): DataStreamWriter[_]
    def add(docs: Seq[(Long, String)], vecs: Seq[(Long, Seq[Double])]): Unit
    def readVerb: String
    def read(): DataFrame
    /** Position of the returned row id in a read's rows. */
    def idAt: Int
    def deleted: Seq[Long]
    def delete(): Unit
    def compact(): Unit
    def rebuild(): Unit
  }

  private def families(spark: SparkSession, c: Corpus): Seq[Family] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def docs = c.docs.toDF("doc_id", "text")
    def vecs = c.vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
    def keptDocs = c.docs.filterNot(d => c.deletedDocs.contains(d._1)).toDF("doc_id", "text")
    def keptVecs = c.vecs.filterNot(v => c.deletedVecs.contains(v._1))
      .map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
    def probeDocs = c.probeDocs.toDF("doc_id", "text")
    def probeVecs = c.probeVecs.toDF("query_id", "qv")
    Seq(
      new Family("DedupIndex", "dedup") {
        val in = MemoryStream[DedupIndexStream.DocArrival]
        def build() = DedupIndex.build(docs, table)
        def writer(dir: String) = DedupIndexStream.run(in.toDS(), table, s"$dir/survivors",
          compactEvery = CompactEvery)
        def add(d: Seq[(Long, String)], v: Seq[(Long, Seq[Double])]) =
          in.addData(d.map { case (id, t) => DedupIndexStream.DocArrival(id, t) })
        def readVerb = "nearDupsAgainst"
        def read() = DedupIndex.nearDupsAgainst(spark, table, probeDocs)
        def idAt = 0 // corpus_id
        def deleted = c.deletedDocs
        def delete() = DedupIndex.delete(c.deletedDocs.toDF("doc_id"), table)
        def compact() = DedupIndex.compact(spark, table)
        def rebuild() = {
          DedupIndex.build(keptDocs, s"${table}_stg")
          DedupIndex.swapIn(spark, s"${table}_stg", table)
        }
      },
      new Family("LexIndex", "lex") {
        val in = MemoryStream[LexIndexStream.DocArrival]
        def build() = LexIndex.build(docs, table)
        def writer(dir: String) = LexIndexStream.run(in.toDS(), table, s"$dir/lex",
          compactEvery = CompactEvery)
        def add(d: Seq[(Long, String)], v: Seq[(Long, Seq[Double])]) =
          in.addData(d.map { case (id, t) => LexIndexStream.DocArrival(id, t) })
        def readVerb = "bm25Against"
        def read() = LexIndex.bm25Against(spark, table, LexQueries)
        def idAt = 1 // doc_id
        def deleted = c.deletedDocs
        def delete() = LexIndex.delete(c.deletedDocs.toDF("doc_id"), table)
        def compact() = LexIndex.compact(spark, table)
        def rebuild() = {
          LexIndex.build(keptDocs, s"${table}_stg")
          LexIndex.swapIn(spark, s"${table}_stg", table)
        }
      },
      new Family("AnnIndex", "ann") {
        val in = MemoryStream[AnnIndexStream.VecArrival]
        def build() = AnnIndex.build(vecs, table, numCentroids = Centroids)
        def writer(dir: String) = AnnIndexStream.run(in.toDS(), table, s"$dir/ann",
          compactEvery = CompactEvery)
        def add(d: Seq[(Long, String)], v: Seq[(Long, Seq[Double])]) =
          in.addData(v.map { case (id, x) => AnnIndexStream.VecArrival(id, x) })
        def readVerb = "topKAgainst"
        def read() = AnnIndex.topKAgainst(spark, table, probeVecs)
        def idAt = 1 // neighbor_id
        def deleted = c.deletedVecs
        def delete() = AnnIndex.delete(c.deletedVecs.toDF("vec_id"), table)
        def compact() = AnnIndex.compact(spark, table)
        def rebuild() = {
          AnnIndex.build(keptVecs, s"${table}_stg", numCentroids = Centroids)
          AnnIndex.swapIn(spark, s"${table}_stg", table)
        }
      },
      new Family("AnnGraphIndex", "graph") {
        val in = MemoryStream[AnnGraphIndexStream.VecArrival]
        def build() = AnnGraphIndex.build(vecs, table)
        def writer(dir: String) = AnnGraphIndexStream.run(in.toDS(), table, s"$dir/graph")
        def add(d: Seq[(Long, String)], v: Seq[(Long, Seq[Double])]) =
          in.addData(v.map { case (id, x) => AnnGraphIndexStream.VecArrival(id, x) })
        def readVerb = "topKAgainst"
        def read() = AnnGraphIndex.topKAgainst(spark, table, probeVecs, k = 5)
        def idAt = 1 // neighbor_id
        def deleted = c.deletedVecs
        def delete() = AnnGraphIndex.delete(c.deletedVecs.toDF("vec_id"), table)
        def compact() = AnnGraphIndex.compact(spark, table)
        def rebuild() = {
          AnnGraphIndex.build(keptVecs, s"${table}_stg")
          AnnGraphIndex.swapIn(spark, s"${table}_stg", table)
        }
      })
  }

  def setup(ctx: Ctx): Unit = {
    corpus = new Corpus(ctx.seed)
    corpus.hash(ctx.hash)
    dir = s"${ctx.work}/index"
    fams = families(ctx.spark, corpus)
    Par.inParallel(fams.map(f => () => f.build()))
    fams.foreach { f =>
      f.query = f.writer(s"$dir/${f.name}").option("checkpointLocation", s"$dir/${f.name}/cp")
        .queryName(s"${f.table}_stream").start()
      ctx.tracer.bindGroup(f.query.runId.toString, s"streaming.${f.name}Stream")
    }
    planted.clear()
    arrived.clear()
    files.clear()
    lastAnswers.clear()
    inputBytes = corpus.docs.map(_._2.length.toLong).sum + BaseVecs * 8L * Gen.Dim
  }

  /** Reads go through a session other than the streams' writers, and the
    * catalog caches file listings per session: refresh them first. */
  private def refresh(spark: SparkSession, f: Family): Unit =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(f.table + "_"))
      .foreach(t => spark.catalog.refreshTable(t))

  /** The read set once, one timed op per family; keeps the answers. */
  private def reads(ctx: Ctx): Unit =
    fams.foreach { f =>
      ctx.op("retrieval") {
        refresh(ctx.spark, f)
        ctx.span(s"analytics.${f.name}.${f.readVerb}")(f.read().collect())
      }.foreach(rows => lastAnswers(f.name) = rows.map(_.toSeq).toSet)
    }

  /** The read set with the four reads side by side (answers only, untimed). */
  private def checkReads(ctx: Ctx): Map[String, Set[Seq[Any]]] = {
    val out = new java.util.concurrent.ConcurrentHashMap[String, Set[Seq[Any]]]()
    Par.inParallel(fams.map(f => () => {
      refresh(ctx.spark, f)
      out.put(f.name, f.read().collect().map(_.toSeq).toSet)
      ()
    }))
    import scala.jdk.CollectionConverters._
    out.asScala.toMap
  }

  def step(ctx: Ctx, i: Int): Unit = {
    val (docs, vecs) = arrive(ctx, i)
    ctx.op("op")(feed(ctx, docs, vecs))
    if (ctx.tracer.enabled) files += indexFiles(ctx)
    reads(ctx)
  }

  /** Arrival batch `i`, hashed with the inputs and counted for the checks
    * and the stored-bytes ratio. */
  private def arrive(ctx: Ctx, i: Int): (Seq[(Long, String)], Seq[(Long, Seq[Double])]) = {
    val (docs, vecs, plants) = arrivals(ctx.seed, i)
    docs.foreach { case (id, t) => ctx.hash.update(s"$id\u0001$t") }
    vecs.foreach { case (id, v) => ctx.hash.update(s"$id\u0001${v.mkString(",")}") }
    planted ++= plants
    arrived ++= docs.map(_._1)
    inputBytes += docs.map(_._2.length.toLong).sum + vecs.length * 8L * Gen.Dim
    (docs, vecs)
  }

  /** Adds one batch to every stream; returns when each has committed it. */
  private def feed(ctx: Ctx, docs: Seq[(Long, String)], vecs: Seq[(Long, Seq[Double])]): Unit =
    Par.inParallel(fams.map(f => () => ctx.span(s"streaming.${f.name}Stream") {
      f.add(docs, vecs)
      f.query.processAllAvailable()
      progress(ctx, f)
    }))

  /** The stream's own split of its last batch: foreachBatch time and the
    * engine's share (offset log, commit log, planning). */
  private def progress(ctx: Ctx, f: Family): Unit =
    Option(f.query.lastProgress).filter(_.batchId != f.lastBatch).foreach { p =>
      f.lastBatch = p.batchId
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3
      ctx.tracer.add(s"streaming.${f.name}Stream.add_batch_s", ms("addBatch"))
      ctx.tracer.add(s"streaming.${f.name}Stream.engine_s", math.max(0.0, ms("triggerExecution") - ms("addBatch")))
    }

  /** Parquet files and bytes of this set-up's index tables. */
  private def indexFiles(ctx: Ctx): (Long, Long) = {
    val tables = Fs.children(new File(s"${ctx.work}/warehouse"))
      .filter(t => fams.exists(f => t.getName.startsWith(f.table + "_")))
    val fs = tables.flatMap(Fs.tree).filter(_.getName.endsWith(".parquet"))
    (fs.length.toLong, fs.map(_.length).sum)
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    close(ctx)
    val survivors = spark.read.parquet(s"$dir/DedupIndex/survivors").select("doc_id").as[Long].collect().toSet
    ctx.check(s"all ${planted.length} planted near-duplicates are caught") {
      planted.nonEmpty && planted.forall(id => !survivors.contains(id))
    }
    // the other arrivals are random texts, distinct within a batch: all survive
    ctx.check(s"the ${arrived.length - planted.length} arrivals not planted all survive") {
      survivors == arrived.toSet -- planted
    }
    ctx.tracer.add("streaming.DedupIndexStream.survivor_ratio", survivors.size.toDouble / math.max(arrived.length, 1))
    if (files.nonEmpty) {
      ctx.tracer.add("sink.index_files", files.map(_._1).sum.toDouble / files.length)
      ctx.tracer.add("sink.index_bytes", files.map(_._2).sum.toDouble / files.length)
    }
    def verb(run: Family => Unit): Unit = ctx.op("verbs") {
      Par.inParallel(fams.map(f => () => ctx.span(s"analytics.${f.name}.verbs")(run(f))))
    }
    def ids(res: Map[String, Set[Seq[Any]]], f: Family): Set[Long] =
      res.getOrElse(f.name, Set.empty).map(_(f.idAt).asInstanceOf[Long])
    val beforeDelete = lastAnswers.toMap
    verb(_.delete())
    val beforeCompact = checkReads(ctx)
    verb(_.compact())
    val afterCompact = checkReads(ctx)
    verb(_.rebuild())
    fams.foreach { f =>
      ctx.check(s"${f.name} returns every id to be deleted before the delete") {
        f.deleted.toSet.subsetOf(ids(beforeDelete, f))
      }
      ctx.check(s"${f.name} never returns a deleted id after the delete") {
        Seq(beforeCompact, afterCompact).forall(res => res.contains(f.name) &&
          ids(res, f).intersect(f.deleted.toSet).isEmpty)
      }
      ctx.check(s"${f.name} answers after compaction equal the answers before it") {
        beforeCompact.contains(f.name) && beforeCompact.get(f.name) == afterCompact.get(f.name)
      }
    }
  }

  override def close(ctx: Ctx): Unit = fams.foreach { f =>
    if (f.query != null) f.query.stop()
    f.query = null
  }

  def serialSteps: Int = 1

  def tracedSteps: Int = 1

  /** Set-up sends no batch, so the first batch is the cold one. */
  override def tracedWarmup: Int = 1

  /** The tracer's bytes written by a verb span are the bytes it rewrote. */
  override def layerAliases: Map[String, String] = Seq("DedupIndex", "LexIndex", "AnnIndex", "AnnGraphIndex")
    .map(f => s"analytics.$f.verbs.output_bytes" -> s"analytics.$f.verbs.bytes_rewritten").toMap


  def detail(ctx: Ctx, loopWall: Double): Seq[(String, Double, String)] = {
    def s(k: String) = ctx.series(k)
    Seq(("maint_batch_p50_s", Stats.median(s("op")), "s"), ("maint_batch_tail_s", Stats.tail(s("op"))._1, "s"),
      ("retrieval_p50_s", Stats.median(s("retrieval")), "s"),
      ("retrieval_tail_s", Stats.tail(s("retrieval"))._1, "s"),
      ("index_verbs_s", s("verbs").sum, "s"),
      ("bytes_stored_per_input_byte", indexFiles(ctx)._2.toDouble / inputBytes, "ratio"))
  }
}

object IndexMaintenance {
  val BaseDocs = 600
  val BaseVecs = 300
  val BatchRows = 40
  /** Every fifth arrival (by id) is a planted near-duplicate of a base row. */
  val PlantEvery = 5
  /** Every batch ends with a full compaction of the streams that compact
    * (`AnnGraphIndexStream` has no compaction cadence): each batch is one
    * whole cycle, so every batch costs the same and any one of them is a
    * fair sample. */
  val CompactEvery = 1
  val Centroids = 16
  val Probes = 10
  val Deleted = 5
  val ProbeIdBase = 9000000L
  val ArrivalIdBase = 1000000L
  /** Marker word of the `i`-th doc deleted at the end; not in `Gen.Vocab`. */
  def Marker(i: Int): String = s"tombstone$i"
  /** Five vocabulary queries, then one for each marker. */
  val LexQueries: Seq[(Int, String)] = Seq(0 -> "stream table hash", 1 -> "customer order join",
    2 -> "window batch spark", 3 -> "index merge key", 4 -> "slow scan filter") ++
    (0 until Deleted).map(i => (5 + i) -> Marker(i))
}
