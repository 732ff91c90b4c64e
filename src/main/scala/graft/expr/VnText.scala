package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** The reference crawler's field-normalization logic (its real "expression
  * library") re-expressed as pure Catalyst column functions — zero UDFs, so
  * everything stays inside whole-stage codegen and is visible to the
  * optimizer. Semantics follow reference: crawler/alonhadat.py:18-193; SURVEY.md
  * §2.6 (F1-F14) documents the mapping.
  *
  * Totality contract: like the reference (bare try/except → None everywhere,
  * e.g. alonhadat.py:137,144,155-157), these functions never throw on
  * malformed input — they return null. They are also ANSI-mode-safe: casts are
  * gated behind format regexes, so the same plans run with
  * spark.sql.ansi.enabled either on or off.
  */
object VnText {

  /** F11: comma-as-decimal-separator normalization
    * (reference: alonhadat.py:134,136,143,150-151 — `replace(',', '.')`). */
  def commaToDot(c: Column): Column = translate(c, ",", ".")

  private val DoubleRe = "^([0-9]+\\.?[0-9]*|\\.[0-9]+)$"
  private val IntRe    = "^[0-9]+$"

  /** Total string→double: trims, normalizes comma decimals, casts only when
    * the text is a plain decimal number; null otherwise (never throws). */
  def safeDouble(c: Column): Column = {
    val t = trim(commaToDot(c))
    when(t.rlike(DoubleRe), t.cast(DoubleType))
  }

  /** Total string→int (digits only; null otherwise). */
  def safeInt(c: Column): Column = {
    val t = trim(c)
    when(t.rlike(IntRe), t.cast(IntegerType))
  }

  /** F1: relative Vietnamese post-date resolution, anchored to an explicit
    * `asOf` date (the reference anchors to wall-clock `datetime.today()`,
    * alonhadat.py:18-29 — a replay hazard we parameterize away).
    * "hôm nay" → asOf; "hôm qua" → asOf − 1 day; else dd/MM/yyyy;
    * any parse failure → asOf (reference lines 28-29). */
  def parsePostDate(c: Column, asOf: Column): Column = {
    val p = lower(trim(c))
    when(p.contains("hôm nay"), asOf)
      .when(p.contains("hôm qua"), date_sub(asOf, 1))
      .otherwise(coalesce(to_date(try_to_timestamp(trim(c), lit("dd/MM/yyyy"))), asOf))
  }

  /** F2: 4-part address split on ", " → (street, ward, district, city).
    * The reference IndexErrors (and drops the record) on addresses with fewer
    * than 4 parts (alonhadat.py:108-110,194); we instead null all four parts
    * and expose `addressValid` so callers choose drop vs keep. */
  def addressParts(c: Column): Column = split(c, ", ")

  def addressValid(c: Column): Column =
    when(c.isNotNull, size(addressParts(c)) >= 4) // null in → null out (size(null) is -1 in legacy mode)

  /** F3: administrative-prefix strip (leading match only; the prefixes only
    * ever occur leading in practice — alonhadat.py:112-123). */
  def stripStreetPrefix(c: Column): Column   = regexp_replace(c, "^(Đường |Phố )", "")
  def stripWardPrefix(c: Column): Column     = regexp_replace(c, "^(Phường |Xã )", "")
  def stripDistrictPrefix(c: Column): Column = regexp_replace(c, "^(Quận |Huyện )", "")

  private def partOrNull(c: Column, i: Int): Column = {
    val parts = addressParts(c)
    when(size(parts) >= 4, try_element_at(parts, lit(i)))
  }

  def street(c: Column): Column   = stripStreetPrefix(partOrNull(c, 1))
  def ward(c: Column): Column     = stripWardPrefix(partOrNull(c, 2))
  def district(c: Column): Column = stripDistrictPrefix(partOrNull(c, 3))
  def city(c: Column): Column     = partOrNull(c, 4)

  /** F4: the price union type (number | "Thỏa thuận" | "Không rõ",
    * alonhadat.py:125-137) split into an explicit (value, status) pair:
    * status ∈ {ok, negotiable, unknown}; value non-null iff status = ok.
    * "X tỷ" → X billions VND; "Y triệu" → Y/1000; comma decimals. A unit
    * match whose number fails to parse is `unknown` (mirrors the reference's
    * float()-raise → except → "Không rõ"). */
  def priceBillionVnd(c: Column): Column = {
    val p  = lower(trim(c))
    val ty = regexp_extract(p, "([0-9.,]+)\\s*tỷ", 1)
    val tr = regexp_extract(p, "([0-9.,]+)\\s*triệu", 1)
    when(p.contains("thỏa thuận"), lit(null).cast(DoubleType))
      .when(ty =!= "", safeDouble(ty))
      .when(tr =!= "", safeDouble(tr) / 1000.0)
  }

  /** Branch selection mirrors [[priceBillionVnd]] exactly (and the
    * reference: a tỷ match whose number fails float() raises OUT of the
    * whole parse → "Không rõ" — it never falls through to the triệu
    * branch, alonhadat.py:131-137). */
  def priceStatus(c: Column): Column = {
    val p  = lower(trim(c))
    val ty = regexp_extract(p, "([0-9.,]+)\\s*tỷ", 1)
    val tr = regexp_extract(p, "([0-9.,]+)\\s*triệu", 1)
    when(c.isNull, lit("unknown"))
      .when(p.contains("thỏa thuận"), lit("negotiable"))
      .when(ty =!= "", when(safeDouble(ty).isNotNull, lit("ok")).otherwise(lit("unknown")))
      .when(tr =!= "", when(safeDouble(tr).isNotNull, lit("ok")).otherwise(lit("unknown")))
      .otherwise(lit("unknown"))
  }

  /** F5: area in m² — first `<number> m` match; case-sensitive like the
    * reference (it does NOT lowercase area text, alonhadat.py:139-144). */
  def areaM2(c: Column): Column =
    safeDouble(when(regexp_extract(trim(c), "([0-9.,]+)\\s*m", 1) =!= "",
      regexp_extract(trim(c), "([0-9.,]+)\\s*m", 1)))

  /** F6: "Kích thước: WxLm" → (width, length); "---" → (null, null); fewer
    * than two parts → both null (mirrors alonhadat.py:146-157 where the
    * IndexError path nulls both). */
  private def dimParts(c: Column): Column = {
    val base = trim(regexp_replace(c, "Kích thước:", ""))
    split(trim(regexp_replace(base, "m", "")), "x")
  }

  private def dimValid(c: Column): Column = {
    val base = trim(regexp_replace(c, "Kích thước:", ""))
    !base.contains("---") && size(dimParts(c)) >= 2
  }

  def dimWidth(c: Column): Column =
    when(dimValid(c), safeDouble(try_element_at(dimParts(c), lit(1))))

  def dimLength(c: Column): Column =
    when(dimValid(c), safeDouble(try_element_at(dimParts(c), lit(2))))

  /** F7: road width "8m" → 8.0 (alonhadat.py:158-161). */
  def roadWidth(c: Column): Column = safeDouble(regexp_replace(c, "m", ""))

  /** F8: floors "3 lầu" → 3 (alonhadat.py:163-166). */
  def floors(c: Column): Column = safeInt(regexp_replace(c, " lầu", ""))

  /** F9: bedrooms "4 phòng ngủ" → 4 (alonhadat.py:168-171). */
  def bedrooms(c: Column): Column = safeInt(regexp_replace(c, " phòng ngủ", ""))

  /** F10: parking flag "Có" → true (element-exists semantics,
    * alonhadat.py:172-176); null stays null. */
  def parking(c: Column): Column = when(c.isNotNull, trim(c) === "Có")
}
