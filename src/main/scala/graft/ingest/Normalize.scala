package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.VnText._

/** The crawler's parse pass as a single declarative projection: raw site text
  * → typed listing columns (reference: crawler/alonhadat.py:102-193). Pure
  * column expressions — one narrow Project over the scan, fully inside
  * whole-stage codegen, no shuffle.
  *
  * `asOf` anchors relative-date resolution explicitly (the reference uses
  * wall-clock today, alonhadat.py:22 — not replayable; SURVEY.md §7.5). */
object Normalize {

  /** Raw site-text fields → normalized listing. Input columns: the
    * `RawSiteListing` shape (id, raw_post_date, raw_address, raw_price,
    * raw_area, raw_dims, raw_road, raw_floors, raw_bedrooms, raw_parking).
    *
    * Every text field is NFC-normalized first (graft.functions.UnicodeNorm):
    * the VnText parsers match Vietnamese prefixes/units byte-exactly, so
    * NFD-encoded input (combining diacritics, which crawled HTML does carry)
    * would otherwise silently miss every match. The reference has the same
    * latent bug (alonhadat.py:112-123); here the contract is explicit and
    * fixture row 9 (NFD-encoded) pins it under the oracle gate.
    *
    * `asOf` is bound by reference ([[graft.functions.Bind]]): a constant
    * date reaches the generated code as a reference slot, not a Java
    * literal, so every ingest date runs the same compiled stage instead of
    * compiling its own. A non-constant `asOf` (a per-row column) is
    * evaluated as before. */
  def fromSiteText(raw: DataFrame, asOf: Column): DataFrame = {
    import graft.functions.Bind
    import graft.functions.UnicodeNorm.nfc
    raw.select(
      col("id"),
      parsePostDate(nfc(col("raw_post_date")), Bind(asOf)).as("post_date"),
      street(nfc(col("raw_address"))).as("duong_pho"),
      ward(nfc(col("raw_address"))).as("phuong_xa"),
      district(nfc(col("raw_address"))).as("quan_huyen"),
      city(nfc(col("raw_address"))).as("thanh_pho"),
      addressValid(nfc(col("raw_address"))).as("addr_valid"),
      lit("Nhà đất").as("loai_bds"),
      areaM2(nfc(col("raw_area"))).as("area"),
      dimWidth(nfc(col("raw_dims"))).as("chieu_ngang"),
      dimLength(nfc(col("raw_dims"))).as("chieu_dai"),
      roadWidth(nfc(col("raw_road"))).as("duong_truoc_nha"),
      floors(nfc(col("raw_floors"))).as("so_tang"),
      bedrooms(nfc(col("raw_bedrooms"))).as("so_phong_ngu"),
      parking(nfc(col("raw_parking"))).as("cho_de_xe"),
      priceBillionVnd(nfc(col("raw_price"))).as("price_billion_vnd"),
      priceStatus(nfc(col("raw_price"))).as("price_status"),
      lit("alonhadat").as("source"))
  }

  /** Wire records (already crawler-normalized strings, `Listing.RawSchema`)
    * → typed columns. This is the cast pass the reference never does (it
    * ships strings all the way to analytics, SURVEY.md §1.2). */
  def fromWire(raw: DataFrame): DataFrame =
    raw.select(
      to_date(try_to_timestamp(col("post_date"), lit("yyyy-MM-dd"))).as("post_date"),
      col("duong_pho"),
      col("phuong_xa"),
      col("quan_huyen"),
      col("thanh_pho"),
      col("loai_bds"),
      col("area"),
      safeDouble(col("chieu_ngang")).as("chieu_ngang"),
      safeDouble(col("chieu_dai")).as("chieu_dai"),
      safeDouble(col("duong_truoc_nha")).as("duong_truoc_nha"),
      safeInt(col("so_tang")).as("so_tang"),
      safeInt(col("so_phong_ngu")).as("so_phong_ngu"),
      parking(col("cho_de_xe")).as("cho_de_xe"),
      // Wire price is already unit-normalized by the crawler: a number in
      // billions VND, or one of the two sentinels (alonhadat.py:126,129,137).
      safeDouble(col("price")).as("price_billion_vnd"),
      when(lower(trim(col("price"))).contains("thỏa thuận"), lit("negotiable"))
        .when(safeDouble(col("price")).isNotNull, lit("ok"))
        .otherwise(lit("unknown")).as("price_status"),
      col("source"))
}
