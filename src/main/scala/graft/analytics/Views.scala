package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.SmallInput
import graft.ingest.{ListingFixtures, Normalize}

/** Batch views over normalized listings — the reference's entire
  * user-visible analytics surface (district counts:
  * spark_jobs/count_by_district.py:26-36 and the MR pair) plus the extended
  * per-district statistics layer (SURVEY.md §7.2 step 6).
  *
  * All views take an already-normalized listing DataFrame, so the same plans
  * run on the fixture corpus (tests/oracle) and on a real warehouse table.
  *
  * Small input, one task: when the listings' size estimate is within one
  * file open ([[SmallInput]]) — one ingest date of the raw zone, the
  * fixture corpus — each view first coalesces them to one partition. The
  * aggregate and the window are then satisfied by `SinglePartition` and
  * plan no exchange, so a collect is one job instead of two under AQE.
  * Larger inputs keep the shuffled plan; the answers are the same. */
object Views {

  /** The reference's flagship: count listings per district, dropping
    * null/empty districts (P1+P2+A1). */
  def districtCounts(listings: DataFrame): DataFrame =
    SmallInput.narrowed(listings)
      .select(col("quan_huyen"))
      .filter(col("quan_huyen").isNotNull && col("quan_huyen") =!= "")
      .groupBy(col("quan_huyen"))
      .agg(count(lit(1)).as("so_luong"))

  /** Extended: per-district price stats over priced listings
    * (price_status = ok), including price per m². */
  def districtPriceStats(listings: DataFrame): DataFrame =
    SmallInput.narrowed(listings)
      .filter(col("quan_huyen").isNotNull && col("price_status") === "ok")
      .groupBy(col("quan_huyen"))
      .agg(
        count(lit(1)).as("n_priced"),
        round(avg(col("price_billion_vnd")), 4).as("avg_price"),
        round(min(col("price_billion_vnd")), 4).as("min_price"),
        round(max(col("price_billion_vnd")), 4).as("max_price"),
        round(avg(col("price_billion_vnd") * lit(1000.0) / nullif(col("area"), lit(0.0))), 4)
          .as("avg_price_million_per_m2"))

  /** Extended: top-k most expensive listings per district (window rank). */
  def topKPerDistrict(listings: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("quan_huyen"))
      .orderBy(col("price_billion_vnd").desc, col("id").asc)
    SmallInput.narrowed(listings)
      .filter(col("quan_huyen").isNotNull && col("price_status") === "ok")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("quan_huyen"), col("id"), col("price_billion_vnd"), col("rk"))
  }

  /** The fixture corpus normalized — shared input for the listing queries
    * and their oracles (as-of date pinned, ListingFixtures.AsOfDate). */
  def fixtureListings(spark: SparkSession): DataFrame =
    Normalize.fromSiteText(ListingFixtures.df(spark),
      to_date(lit(ListingFixtures.AsOfDate)))
}
