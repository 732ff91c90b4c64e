package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import graft.analytics.Views
import graft.ingest.Normalize
import graft.model.RawSiteListing
import graft.sink.BatchViews

/** The paper's dataflow at volume: each ingest date is one batch of
  * site-text JSONL → `Normalize.fromSiteText` → `BatchViews.writeRawZone` →
  * partition-pruned read → the three `Views` → `BatchViews.writeView`. */
final class ListingIngest extends Workload {
  private val Dates = 8
  private val WarmupBatches = 3
  private val RowsPerBatch = 2000
  private val RawSchema = Encoders.product[RawSiteListing].schema
  private val ViewNames = Seq("district_counts", "district_price_stats", "district_topk")

  private var base: String = _
  private var batches: IndexedSeq[Gen.ListingBatch] = IndexedSeq.empty
  private val seen = mutable.LinkedHashMap.empty[String, Long] // date -> Σ so_luong
  private var rowsIngested = 0L

  private def date(i: Int): String = java.time.LocalDate.of(2025, 1, 1).plusDays(i % Dates).toString
  private def input(d: String): String = s"$base/in/$d.jsonl"

  def setup(ctx: Ctx): Unit = {
    base = s"${ctx.work}/listing"
    new File(s"$base/in").mkdirs()
    batches = (0 until Dates).map { i =>
      val b = Gen.listingBatch(ctx.seed, date(i), RowsPerBatch, i.toLong * RowsPerBatch)
      java.nio.file.Files.write(new File(input(b.date)).toPath, b.jsonl)
      ctx.hash.update(b.jsonl)
      b
    }
    // warm-up on a throwaway zone, so codegen, the parquet writers and the
    // JIT have settled before the first timed batch: after one batch the
    // next few still ran up to 40 % slower on some seeds
    (0 until WarmupBatches).foreach(i => batch(ctx, batches(i), s"$base/warm"))
    seen.clear()
    rowsIngested = 0L
  }

  private def batch(ctx: Ctx, b: Gen.ListingBatch, zone: String): Long = {
    val spark = ctx.spark
    val raw = spark.read.schema(RawSchema).option("mode", "DROPMALFORMED").json(input(b.date))
    val norm = ctx.span("ingest.Normalize.fromSiteText") {
      Normalize.fromSiteText(raw, to_date(lit(b.date)))
    }
    ctx.span("sink.writeRawZone") { BatchViews.writeRawZone(norm, s"$zone/raw", b.date) }
    val landed = spark.read.parquet(s"$zone/raw").filter(col("ingest_date") === lit(b.date))
    val views = ViewNames.zip(Seq(Views.districtCounts(landed), Views.districtPriceStats(landed),
      Views.topKPerDistrict(landed)))
    // collected, then written from the driver's rows: the Views span holds
    // the scan and the aggregation, the writeView span only the write
    val rows = ctx.span("analytics.Views")(views.map(_._2.collect()))
    views.zip(rows).foreach { case ((view, df), rs) =>
      ctx.span("sink.writeView") {
        BatchViews.writeView(spark.createDataFrame(java.util.Arrays.asList(rs: _*), df.schema),
          s"$zone/views/$view/ingest_date=${b.date}")
      }
    }
    rows.head.map(_.getLong(1)).sum // Σ so_luong
  }

  def step(ctx: Ctx, i: Int): Unit = {
    val b = batches(i % Dates)
    ctx.op("op")(batch(ctx, b, s"$base/zone")).foreach { soLuong =>
      seen(b.date) = soLuong
      rowsIngested += b.validRows
      if (ctx.tracer.enabled) {
        val part = new File(s"$base/zone/raw/ingest_date=${b.date}")
        ctx.tracer.add("sink.writeRawZone.output_files", Fs.parquet(part).length)
        ctx.tracer.add("sink.writeView.output_files", ViewNames.map(v =>
          Fs.parquet(new File(s"$base/zone/views/$v/ingest_date=${b.date}")).length).sum)
      }
    }
  }

  def finish(ctx: Ctx): Unit = {
    val landed = ctx.spark.read.parquet(s"$base/zone/raw")
      .groupBy(col("ingest_date").cast("string").as("d"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("ids"),
        count(when(col("quan_huyen").isNotNull && col("quan_huyen") =!= "", 1)).as("nd"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    seen.foreach { case (d, soLuong) =>
      val b = batches.find(_.date == d).get
      val (n, ids, nd) = landed.getOrElse(d, (-1L, -1L, -1L))
      ctx.check(s"raw zone $d holds exactly the ${b.validRows} well-formed rows (got $n)") {
        n == b.validRows && ids == b.validIdSum
      }
      ctx.check(s"Σ so_luong for $d equals the ${b.withDistrict} rows with a district (got $soLuong)") {
        soLuong == b.withDistrict && nd == b.withDistrict
      }
    }
  }

  def serialSteps: Int = 4

  def tracedSteps: Int = 8

  def detail(ctx: Ctx, loopWall: Double): Seq[(String, Double, String)] = {
    val ops = ctx.series("op")
    val inputBytes = seen.keys.map(d => new File(input(d)).length).sum.toDouble
    val stored = Fs.bytes(new File(s"$base/zone")).toDouble
    Seq(("ingest_rows_per_s", rowsIngested / ops.sum, "rows/s"),
      ("ingest_batch_p50_s", Stats.median(ops), "s"),
      ("ingest_batch_tail_s", Stats.tail(ops)._1, "s"),
      ("bytes_stored_per_input_byte", stored / inputBytes, "ratio"))
  }
}
