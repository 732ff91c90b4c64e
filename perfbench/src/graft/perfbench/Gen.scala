package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.text.Normalizer

/** Seeded input generators. Everything here is plain JVM code driven by
  * `java.util.SplittableRandom`, so one seed gives byte-identical inputs on
  * every host; the program under test only ever sees the generated rows. */
object Gen {

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def gaussian(): Double = { // Box-Muller, so the stream depends on the seed alone
      val u = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
    /** Zipf(s) rank in [0, n): rank k has weight 1/(k+1)^s. */
    def zipf(n: Int, s: Double): Int = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      var u = r.nextDouble() * w.sum
      var k = 0
      while (k < n - 1 && u >= w(k)) { u -= w(k); k += 1 }
      k
    }
  }

  /** SHA-256 over every generated byte, in generation order. */
  final class InputHash {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def update(bytes: Array[Byte]): Unit = md.update(bytes)
    def update(s: String): Unit = md.update(s.getBytes(UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------- listings

  private val Places: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("Phường Bến Nghé", "Quận 1", "Hồ Chí Minh"),
    ("Phường 7", "Quận Gò Vấp", "Hồ Chí Minh"),
    ("Phường 8", "Quận Tân Bình", "Hồ Chí Minh"),
    ("Phường Bến Thành", "Quận 3", "Hồ Chí Minh"),
    ("Xã Tân Triều", "Huyện Thanh Trì", "Hà Nội"),
    ("Phường Mộ Lao", "Quận Hà Đông", "Hà Nội"),
    ("Phường 12", "Quận Bình Thạnh", "Hồ Chí Minh"),
    ("Phường Dịch Vọng", "Quận Cầu Giấy", "Hà Nội"),
    ("Phường Thảo Điền", "Quận 2", "Hồ Chí Minh"),
    ("Phường 4", "Quận 5", "Hồ Chí Minh"),
    ("Phường Láng Hạ", "Quận Đống Đa", "Hà Nội"),
    ("Phường Linh Trung", "Quận Thủ Đức", "Hồ Chí Minh"),
    ("Xã Vĩnh Lộc A", "Huyện Bình Chánh", "Hồ Chí Minh"),
    ("Phường Tân Phong", "Quận 7", "Hồ Chí Minh"),
    ("Phường Hòa Cường", "Quận Hải Châu", "Đà Nẵng"),
    ("Phường Mỹ An", "Quận Ngũ Hành Sơn", "Đà Nẵng"),
    ("Xã Đông Hội", "Huyện Đông Anh", "Hà Nội"),
    ("Phường 15", "Quận 10", "Hồ Chí Minh"),
    ("Phường Phúc Xá", "Quận Ba Đình", "Hà Nội"),
    ("Phường An Lạc", "Quận Bình Tân", "Hồ Chí Minh"),
    ("Phường Tân Định", "Quận 1", "Hồ Chí Minh"),
    ("Phường Yên Hòa", "Quận Cầu Giấy", "Hà Nội"),
    ("Xã Phước Kiển", "Huyện Nhà Bè", "Hồ Chí Minh"),
    ("Phường Hiệp Phú", "Quận 9", "Hồ Chí Minh"))
  private val Streets = IndexedSeq("Đường Lê Lợi", "Phố Huế", "Nguyễn Trãi", "Đường Nguyễn Huệ",
    "Trần Phú", "Lý Thường Kiệt", "Đường Võ Văn Tần", "Phố Kim Mã", "Đường Hai Bà Trưng",
    "Phan Xích Long", "Đường 3 Tháng 2", "Phố Tràng Tiền")

  /** One ingest date's site-text JSONL, plus what a correct pipeline must
    * land from it: the count and id sum of the well-formed lines, and how
    * many of them carry a district. */
  final case class ListingBatch(date: String, jsonl: Array[Byte], validRows: Long,
      validIdSum: Long, withDistrict: Long, malformed: Long)

  private def jsonStr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  private def nfd(s: String): String =
    if (s == null) null else Normalizer.normalize(s, Normalizer.Form.NFD)

  /** Every `ListingFixtures` parser branch at a fixed share: tỷ / triệu /
    * "Thỏa thuận" / garbage prices; relative, absolute and invalid dates;
    * short and garbage addresses; NFD-encoded rows; all-null rows; and
    * malformed JSON lines. Districts are Zipf(1.1)-skewed. */
  def listingBatch(seed: Long, date: String, rows: Int, idBase: Long): ListingBatch = {
    val rng = new Rng(seed * 1000003L + date.hashCode)
    val sb = new StringBuilder
    var valid, idSum, withDistrict, malformed = 0L
    var i = 0
    while (i < rows) {
      val id = idBase + i
      val line =
        if (rng.chance(0.03)) { // all-null row (fixture row 7)
          valid += 1
          idSum += id
          s"""{"id":$id,"raw_post_date":null,"raw_address":null,"raw_price":null}"""
        } else {
          val (ward, district, city) = Places(rng.zipf(Places.length, 1.1))
          val street = rng.pick(Streets)
          val a = rng.double()
          val address =
            if (a < 0.82) s"$street, $ward, $district, $city"
            else if (a < 0.90) s"$street, $district" // short: no district parsed
            else if (a < 0.95) "A, B, C, D"
            else null
          val price = rng.int(20) match {
            case n if n < 9  => s"${rng.between(1, 40)},${rng.int(10)} tỷ"
            case n if n < 15 => s"${rng.between(300, 990)} triệu"
            case n if n < 18 => "Thỏa thuận"
            case 18          => "giá rẻ"
            case _           => "2,,3 tỷ"
          }
          val postDate = rng.int(20) match {
            case n if n < 3  => "Hôm nay"
            case n if n < 4  => "hôm nay"
            case n if n < 7  => "Hôm qua"
            case n if n < 17 => f"${rng.between(1, 28)}%02d/${rng.between(1, 12)}%02d/${rng.between(2022, 2025)}"
            case n if n < 19 => "31/02/2025"
            case _           => "not a date"
          }
          val area = rng.int(10) match {
            case n if n < 5 => s"${rng.between(20, 300)} m²"
            case n if n < 8 => s"${rng.between(20, 300)},${rng.int(10)} m2"
            case 8          => "---"
            case _          => "abc"
          }
          val dims = rng.int(10) match {
            case n if n < 7 => s"Kích thước: ${rng.between(3, 12)}x${rng.between(8, 30)}m"
            case 7          => s"Kích thước: ${rng.between(3, 6)},5x${rng.between(8, 30)}m"
            case 8          => "Kích thước: ---"
            case _          => s"Kích thước: ${rng.between(8, 30)}m"
          }
          val road = if (rng.chance(0.2)) null else s"${rng.between(2, 20)}m"
          val floors = rng.int(10) match {
            case 0 => "năm lầu"
            case 1 => null
            case _ => s"${rng.between(1, 10)} lầu"
          }
          val bedrooms = if (rng.chance(0.15)) null else s"${rng.between(0, 6)} phòng ngủ"
          val parking = rng.int(4) match { case 0 => null; case 1 => "Không"; case _ => "Có" }
          val enc: String => String = if (rng.chance(0.1)) nfd else identity
          val body = s"""{"id":$id,"raw_post_date":${jsonStr(enc(postDate))},""" +
            s""""raw_address":${jsonStr(enc(address))},"raw_price":${jsonStr(enc(price))},""" +
            s""""raw_area":${jsonStr(enc(area))},"raw_dims":${jsonStr(enc(dims))},""" +
            s""""raw_road":${jsonStr(road)},"raw_floors":${jsonStr(enc(floors))},""" +
            s""""raw_bedrooms":${jsonStr(enc(bedrooms))},"raw_parking":${jsonStr(enc(parking))}}"""
          if (rng.chance(0.02)) { // malformed: a truncated record that must never land
            malformed += 1
            body.take(body.length / 2)
          } else {
            if (address != null && address.split(", ", -1).length >= 4) withDistrict += 1
            valid += 1
            idSum += id
            body
          }
        }
      sb.append(line).append('\n')
      i += 1
    }
    ListingBatch(date, sb.toString.getBytes(UTF_8), valid, idSum, withDistrict, malformed)
  }

  // ------------------------------------------------------------------ corpus

  /** The synthetic warehouse's document vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch", "index")

  def docText(rng: Rng): String = Seq.fill(rng.between(8, 90))(rng.pick(Vocab)).mkString(" ")

  /** A near-duplicate: one word replaced, or an exact copy. */
  def nearCopy(rng: Rng, text: String): String =
    if (rng.chance(0.5)) text
    else {
      val w = text.split(" ")
      w(rng.int(w.length)) = rng.pick(Vocab)
      w.mkString(" ")
    }

  val Dim = 64
  val Labels = 10

  /** Per-label unit centers; vectors are center + noise. */
  def centers(seed: Long): IndexedSeq[Array[Double]] = {
    val rng = new Rng(seed ^ 0x5eedL)
    IndexedSeq.fill(Labels)(unit(Array.fill(Dim)(rng.gaussian())))
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def vector(rng: Rng, center: Array[Double]): Array[Double] =
    unit(center.map(c => c + 0.35 * rng.gaussian()))
}
