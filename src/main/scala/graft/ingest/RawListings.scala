package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.model.Listing

/** Batch raw-zone readers (SURVEY.md §2.1 S1).
  *
  * The reference reads its landed JSONL with full schema inference
  * (spark_jobs/count_by_district.py:22 — an extra scan of every file just to
  * guess types, and the price union silently collapses). Here the explicit
  * wire schema is applied instead; inference survives only as a diagnostics
  * helper. Malformed lines land in `_corrupt_record` (PERMISSIVE), mirroring
  * the MR mapper's skip-on-JSONDecodeError (mapper.py:29-31) without
  * dropping them silently.
  */
object RawListings {

  private val CorruptCol = "_corrupt_record"

  /** S1: JSONL scan with the explicit wire schema. `dropMalformed = true`
    * (the reference's behavior, mapper.py:29-31) uses DROPMALFORMED — a
    * corrupt-marker filter would make count-only queries illegal
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN); `false` keeps bad lines in
    * `_corrupt_record` for quarantine pipelines. */
  def readJsonl(spark: SparkSession, path: String, dropMalformed: Boolean = true): DataFrame =
    if (dropMalformed)
      spark.read
        .schema(Listing.RawSchema)
        .option("mode", "DROPMALFORMED")
        .json(path)
    else
      spark.read
        .schema(Listing.RawSchema.add(CorruptCol, StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CorruptCol)
        .json(path)

  /** S1 + normalization: raw zone → typed listing table in one pass. */
  def typedListings(spark: SparkSession, path: String): DataFrame =
    Normalize.fromWire(readJsonl(spark, path))

  /** S5: the Kafka-sink projection — record → (key, value) JSON envelope.
    * Key mirrors the producer's coalesce chain (kafka_producer.py:59-61);
    * since `link`/`title` are never produced by the crawler, a synthesized
    * listing identity replaces the reference's dead `unknown_key_<ts>`
    * fallback (SURVEY.md §1.3) so keyed compaction/dedup actually works. */
  def toKafkaEnvelope(raw: DataFrame): DataFrame =
    raw.select(
      coalesce(
        col("duong_pho"),
        concat_ws("|", col("quan_huyen"), col("thanh_pho"), col("post_date")))
        .cast(StringType).as("key"),
      to_json(struct(raw.columns.map(col): _*)).as("value"))

  /** Writes the envelope to a Kafka topic (S5). Requires a reachable broker —
    * the projection above is what unit tests cover. */
  def writeToKafka(envelope: DataFrame, bootstrap: String, topic: String): Unit =
    envelope.write
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()
}
