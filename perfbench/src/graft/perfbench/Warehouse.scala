package graft.perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import Gen.Rng

/** A seeded synthetic warehouse in the layout `graft.Tables` reads: one
  * parquet file per table under `dir`, same column names and types as the
  * gate's test tables (timestamps are parquet `TIMESTAMP(MICROS)` without
  * UTC adjustment, as there). `scale` follows the gate's scale factor
  * (0.01 ≈ 60k lineitem rows). Documents carry planted near-duplicates so
  * the dedup and ensemble legs have clusters to find. */
object Warehouse {

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  def tables(seed: Long, scale: Double): Seq[Table] = {
    val rng = new Rng(seed ^ 0x7ab1e5L)
    def n(base: Double): Int = math.max(1, math.round(base * scale).toInt)
    def money(lo: Double, hi: Double): Double = math.rint((lo + rng.double() * (hi - lo)) * 100) / 100
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nUsers = n(15000); val nEvents = n(1000000)
    val nDocs = n(50000); val nVecs = math.max(200, n(50000))

    val region = Table("region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map {
        case (r, i) => Row(i, r) })
    val nation = Table("nation", StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = IndexedSeq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val customer = Table("customer", StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rng.int(25),
        money(-999, 9999), rng.pick(segments))))
    val supplier = Table("supplier", StructType.fromDDL(
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.int(25), money(-999, 9999))))
    val adjs = IndexedSeq("red", "blue", "hot", "cold", "old", "new", "small", "large")
    val nouns = IndexedSeq("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
    val types = IndexedSeq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val part = Table("part", StructType.fromDDL(
      "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0 until nPart).map(i => Row(i.toLong, s"${rng.pick(adjs)} ${rng.pick(nouns)}",
        s"Brand#${rng.between(1, 25)}", rng.pick(types), rng.between(1, 50),
        math.rint((900 + (i % 1000) / 10.0) * 100) / 100)))

    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderRows = Array.newBuilder[Row]
    val lineRows = Array.newBuilder[Row]
    var o = 0
    while (o < nOrders) {
      val date = day0.plusDays(rng.int(2404).toLong)
      orderRows += Row(o.toLong, rng.int(nCust).toLong, rng.pick(IndexedSeq("F", "O", "P")),
        money(1000, 500000), date, rng.pick(priorities))
      var l = 1
      val lines = rng.between(1, 7)
      while (l <= lines) {
        val qty = rng.between(1, 50).toDouble
        lineRows += Row(o.toLong, rng.int(nPart).toLong, rng.int(nSupp).toLong, l, qty,
          math.rint(qty * (900 + rng.int(1200)) * 100) / 100, rng.int(11) / 100.0,
          rng.int(9) / 100.0, rng.pick(IndexedSeq("A", "N", "R")), rng.pick(IndexedSeq("O", "F")),
          date.plusDays(rng.between(1, 120).toLong))
        l += 1
      }
      o += 1
    }
    val orders = Table("orders", StructType.fromDDL(
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"), orderRows.result().toSeq)
    val lineitem = Table("lineitem", StructType.fromDDL(
      "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"), lineRows.result().toSeq)

    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTypes = IndexedSeq("signup", "click", "error", "view", "purchase")
    val events = Table("events", StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
      (0 until nEvents).map(i => Row(i.toLong,
        ev0.plusNanos((rng.double() * 30 * 86400e6).toLong * 1000L), rng.int(nUsers).toLong,
        rng.pick(evTypes), if (rng.chance(0.3)) 0.0 else money(0, 560),
        s"""{"k": ${rng.int(100)}}""")))

    val langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")
    val texts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) = if (i > 10 && rng.chance(0.04)) Gen.nearCopy(rng, texts(rng.int(i))) else Gen.docText(rng)
    }
    val documents = Table("documents", StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      (0 until nDocs).map(i => Row(i.toLong, texts(i), rng.pick(langs), s"src${i % 20}",
        texts(i).length.toLong)))

    val cs = Gen.centers(seed)
    val embeddings = Table("embeddings", StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      (0 until nVecs).map { i =>
        val label = rng.int(Gen.Labels)
        Row(i.toLong, Gen.vector(rng, cs(label)).map(_.toFloat).toSeq, label)
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
  }

  /** Writes every table as `dir/<name>.parquet` (one file each, the
    * tables side by side); feeds the rows' text form to `hash`. */
  def write(spark: SparkSession, dir: String, ts: Seq[Table], hash: Gen.InputHash): Unit = {
    ts.foreach { t =>
      hash.update(t.name)
      t.rows.foreach(r => hash.update(r.mkString("\u0001")))
    }
    graft.functions.Par.inParallel(ts.map(t => () =>
      spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")))
  }
}
