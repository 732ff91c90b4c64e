package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Bind, SmallInput}

/** Batch-view sinks (SURVEY.md §2.1 S2/S3/S6).
  *
  * Replaces the reference's two sink paths — the Spark job's flat parquet
  * overwrite (spark_jobs/count_by_district.py:36) and the consumer's manual
  * YYYY/MM/DD directory layout written over WebHDFS
  * (kafka_cc/consumer/kafka_to_hdfs_consumer.py:88-105) — with partitioned
  * columnar writes, so date predicates prune at scan time instead of relying
  * on glob paths (count_by_district.py:13).
  */
object BatchViews {

  /** S2: batch-view parquet overwrite. zstd: at warehouse scale the
    * scan-speed/ratio tradeoff beats the snappy default and decode is
    * vectorized either way. A view whose size estimate is within one file
    * open ([[SmallInput]]) is written by one task as one file, instead of
    * one file per core for a few dozen rows. */
  def writeView(df: DataFrame, path: String): Unit =
    SmallInput.narrowed(df).write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** S6 (batch form): raw-zone write partitioned by ingest date. The
    * explicit `ingest_date` parameter replaces the reference's wall-clock
    * `datetime.now()` pathing — replayable, idempotent per date. The date
    * is bound by reference ([[Bind]]), not inlined as a literal, so every
    * date runs the same compiled write stage. */
  def writeRawZone(df: DataFrame, path: String, ingestDate: String): Unit =
    df.withColumn("ingest_date", Bind(to_date(lit(ingestDate))))
      .write.mode("overwrite")
      .partitionBy("ingest_date")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .parquet(path)

  /** S3: the commented-out CSV alternative (count_by_district.py:37-38). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}
