package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.analytics.Views
import graft.functions.Bind
import graft.ingest.{ListingFixtures, Normalize}
import graft.sink.BatchViews

/** The reference's batch layer per ingest date — normalize, raw zone,
  * views, view sinks — and its fixed per-batch costs: one compiled stage
  * for every date, shuffle-free views and one-file views on small inputs. */
class ListingBatchSpec extends SparkSpec {
  import spark.implicits._

  // checkpointed, so Normalize runs in generated code over a real scan
  // rather than being folded into a local relation by the optimizer
  private lazy val raw: DataFrame = ListingFixtures.df(spark).localCheckpoint()

  private def ingest(zone: String, date: String): Unit =
    BatchViews.writeRawZone(Normalize.fromSiteText(raw, to_date(lit(date))), zone, date)

  private def landed(zone: String, date: String): DataFrame =
    spark.read.parquet(zone).filter(col("ingest_date") === date)

  private lazy val zone: String = {
    val z = Files.createTempDirectory("graft_listing_zone").toString
    ingest(z, ListingFixtures.AsOfDate)
    z
  }

  private def views: Seq[(String, DataFrame => DataFrame)] = Seq(
    "districtCounts" -> Views.districtCounts,
    "districtPriceStats" -> Views.districtPriceStats,
    "topKPerDistrict" -> (Views.topKPerDistrict(_)))

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def withOpenCost[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bind: a constant reaches generated code by reference; one class serves every value") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    def plan(v: Int) = spark.range(0, 3, 1, 1).select((Bind(lit(v)) + col("id")).as("x"))
    def code(v: Int) = codegenStringSeq(plan(v).queryExecution.executedPlan).map(_._2)
    assert(code(7).nonEmpty && code(7) == code(8), "the bound value changed the generated source")
    assert(plan(7).as[Long].collect().toSeq == Seq(7L, 8L, 9L))
    assert(plan(8).as[Long].collect().toSeq == Seq(8L, 9L, 10L))
    val nulls = spark.range(0, 2, 1, 1).select(Bind(lit(null).cast("int")).as("x"))
    assert(nulls.collect().toSeq == Seq(Row(null), Row(null)))
    // a per-row value is not a constant: it passes through unchanged
    val rows = spark.range(0, 3, 1, 1).select(Bind(col("id") * 2).as("x"))
    assert(rows.as[Long].collect().toSeq == Seq(0L, 2L, 4L))
  }

  test("two ingest dates share one compiled stage; relative dates follow each date") {
    val z = Files.createTempDirectory("graft_listing_dates").toString
    ingest(z, "2025-04-24")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ingest(z, "2025-05-01")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"the second ingest date compiled $compiles new classes")
    // F1: "hôm nay" (rows 1, 6) is the ingest date, "hôm qua" (rows 2 and
    // NFD row 9) the day before, an explicit date (row 3) stays itself
    Seq("2025-04-24" -> "2025-04-23", "2025-05-01" -> "2025-04-30").foreach {
      case (today, yesterday) =>
        val got = landed(z, today).filter(col("id").isin(1, 2, 3, 6, 9))
          .select(col("id"), col("post_date").cast("string")).as[(Long, String)]
          .collect().toMap
        assert(got == Map(1L -> today, 2L -> yesterday, 3L -> "2025-04-24",
          6L -> today, 9L -> yesterday), s"ingest date $today: $got")
    }
  }

  test("small input: each view plans no exchange and collects in one job") {
    val in = landed(zone, ListingFixtures.AsOfDate)
    views.foreach { case (name, view) =>
      val df = view(in)
      val jobs = JobCount.of(spark)(df.collect())
      assert(!hasExchange(df), s"$name planned an exchange:\n${df.queryExecution.executedPlan}")
      assert(jobs == 1, s"$name collected in $jobs jobs")
    }
  }

  test("input above the open cost: the exchange comes back and the answers are equal") {
    val in = landed(zone, ListingFixtures.AsOfDate)
    views.foreach { case (name, view) =>
      val small = sorted(view(in))
      val (shuffled, exchanged) = withOpenCost(1L) {
        val df = view(in)
        (sorted(df), hasExchange(df))
      }
      assert(exchanged, s"$name planned no exchange above the threshold")
      assert(small.nonEmpty && small == shuffled, s"$name: $small vs $shuffled")
    }
  }

  test("writeView: a small view lands as one parquet file") {
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val view = Views.districtCounts(landed(zone, ListingFixtures.AsOfDate))
    val rows = view.collect()
    // a collected view written back from the driver's rows: a local frame
    // that scans as one partition per core
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), view.schema)
    val one = Files.createTempDirectory("graft_view_one").toString + "/v"
    BatchViews.writeView(df, one)
    assert(parquetFiles(one) == 1, s"small view wrote ${parquetFiles(one)} files")
    assert(sorted(spark.read.parquet(one)) == rows.map(_.toString).toSeq.sorted)
    val many = Files.createTempDirectory("graft_view_many").toString + "/v"
    withOpenCost(1L)(BatchViews.writeView(df, many))
    assert(parquetFiles(many) > 1, "above the threshold the view keeps one file per task")
  }
}
