package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ingest.RawListings
import graft.analytics.Views
import graft.sink.BatchViews

/** End-to-end batch pipeline — the reference's complete dataflow (SURVEY.md
  * §0 diagram) as one program:
  *
  *   raw listing JSONL → typed listings (normalize) → raw-zone parquet
  *   (ingest_date partitioned) → batch views (district counts, price stats,
  *   top-k) → parquet view sinks
  *
  * Usage: runMain graft.Pipeline <rawJsonlPath> <warehouseDir> <ingestDate>
  *
  * A user of the reference runs this instead of its four separate processes
  * (crawler → producer → consumer → spark job); every stage is one Catalyst
  * plan edge rather than a process boundary (SURVEY.md §3.3).
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(rawPath, warehouse, ingestDate) = args.take(3)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), confs = Nil)
    run(spark, rawPath, warehouse, ingestDate)
    spark.stop()
  }

  /** Runs the full pipeline; returns the row count of the raw zone written
    * (factored out of main for tests). */
  def run(spark: SparkSession, rawPath: String, warehouse: String, ingestDate: String): Long = {
    val typed = RawListings.typedListings(spark, rawPath)

    // raw zone: typed, date-partitioned, replayable
    BatchViews.writeRawZone(typed, s"$warehouse/listings_raw", ingestDate)
    val zone = spark.read.parquet(s"$warehouse/listings_raw")
      .filter(col("ingest_date") === ingestDate) // partition-pruned

    // batch views (the reference's one view + the extended stats layer)
    BatchViews.writeView(Views.districtCounts(zone), s"$warehouse/district_counts")
    BatchViews.writeView(Views.districtPriceStats(zone), s"$warehouse/district_price_stats")
    // synthesized listing identity (the reference's Kafka key is dead code —
    // SURVEY.md §1.3): content-derived, so re-runs and re-crawls dedup
    BatchViews.writeView(
      Views.topKPerDistrict(zone.withColumn("id",
        xxhash64(col("quan_huyen"), col("duong_pho"), col("post_date"), col("area")))),
      s"$warehouse/district_topk")
    zone.count()
  }
}
