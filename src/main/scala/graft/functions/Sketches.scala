package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Sketch, similarity and quantization kernels over Catalyst's internal
  * values, each bound into plans by [[Kernels]] as one named expression.
  *
  * Spark's higher-order functions (`transform`/`aggregate`) are
  * CodegenFallback — they interpret the lambda expression tree per element.
  * A 64-permutation MinHash over a few hundred shingles costs ~25k
  * interpreted evals per row that way; these kernels instead hash each
  * element once (XXH64 over the raw UTF8 bytes) and derive all permutations
  * with a splitmix64 finalizer — a tight compiled loop that generated code
  * and interpreted evaluation both call, so there is exactly one
  * implementation of the math.
  */
object Sketches {

  private[functions] final val NumPermsDefault = 64

  /** Deterministic per-permutation salts (fixed seed — signatures must be
    * identical across runs, executors, and cluster layouts). */
  private val salts: Array[Long] = {
    val rnd = new java.util.Random(0x5eed5eedL)
    Array.fill(NumPermsDefault)(rnd.nextLong() | 1L)
  }

  @inline private def mix64(zIn: Long): Long = { // splitmix64 finalizer
    var z = zIn
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline private def hashString(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  /** MinHash kernel: slot p = min over elements of mix64(h(e) ^ salt(p)). */
  def minhashKernel(arr: ArrayData, numPerms: Int): ArrayData = {
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = hashString(arr.getUTF8String(i))
      var p = 0
      while (p < numPerms) {
        val v = mix64(h ^ salts(p))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash kernel: 64-bit majority vote over element hashes. */
  def simhashKernel(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = hashString(arr.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 128-bit SimHash kernel: two independent 64-bit majority votes (seeds
    * 42 / golden-ratio) packed as [word0, word1]. The 64-bit fingerprint's
    * banded join needs 16-bit chunks for d ≤ 3 (4 chunks, pigeonhole), and
    * 16-bit buckets birthday-collide at ~n²/2¹⁶ — MEASURED superlinear in
    * the scale rehearsal (SCALING.md). 128 bits buy 32-bit chunks: same
    * exact d ≤ 3 pigeonhole, collision constant n²/2³² — negligible to
    * ~10⁸ docs per band. */
  def simhash128Kernel(arr: ArrayData): ArrayData = {
    val counts = new Array[Int](128)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      val h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(),
        0x9E3779B97F4A7C15L)
      var b = 0
      while (b < 64) {
        if (((h0 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((h1 >>> b) & 1L) == 1L) counts(64 + b) += 1 else counts(64 + b) -= 1
        b += 1
      }
      i += 1
    }
    var w0 = 0L
    var w1 = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) >= 0) w0 |= (1L << b)
      if (counts(64 + b) >= 0) w1 |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(w0, w1))
  }

  def simhash128(c: Column): Column = Kernels.SimHash128(c)

  /** The regex-`\s` character class ([ \t\n\x0B\f\r]) — identical in Java
    * regex and RE2 (DuckDB), which is exactly why it is THE token boundary
    * for the whole engine: every tokenizing kernel, every Spark
    * `regexp_extract_all(_, '\\S+')` column, and every DuckDB oracle's
    * `regexp_extract_all(text, '\S+')` agree byte-for-byte on arbitrary
    * whitespace (leading/trailing, tabs, newlines, runs). Java's
    * `String.trim` (strips all chars ≤ 0x20, including non-whitespace
    * control chars) is deliberately NOT used anywhere. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** Tokens = maximal runs of non-`\s` characters; whitespace-only or empty
    * text yields ZERO tokens (not one empty token). */
  private def wsTokens(str: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) out += str.substring(start, i)
    }
    out.toArray
  }

  /** The text with `\s`-class characters stripped from both ends — the
    * below-n-tokens shingle fallback value (mirrors the oracles'
    * `regexp_replace(text, '^\s+|\s+$', '', 'g')`). */
  private def wsStrip(str: String): String = {
    var from = 0
    var to = str.length
    while (from < to && isWs(str.charAt(from))) from += 1
    while (to > from && isWs(str.charAt(to - 1))) to -= 1
    str.substring(from, to)
  }

  /** Word n-gram shingle kernel: one whitespace split, one pass, distinct in
    * first-occurrence order. Semantics mirror
    * `array_distinct(transform(sequence(...), i => concat_ws(" ", toks...)))`
    * with fallback to the whole whitespace-stripped text below n tokens —
    * but the higher-order-function formulation re-evaluates the split per
    * element access (CodegenFallback + no CSE inside lambdas), which made
    * shingling the hottest expression in the dedup family. Tokenization is
    * [[wsTokens]] (maximal `\S+` runs) so kernels, Spark columns, and the
    * DuckDB oracles agree on arbitrary whitespace. */
  def wordShinglesKernel(s: UTF8String, n: Int): ArrayData = {
    val toks = wsTokens(s.toString)
    if (toks.length < n)
      return new GenericArrayData(Array(UTF8String.fromString(wsStrip(s.toString))))
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  def wordShingles(c: Column, n: Int = 3): Column = Kernels.WordShingles.withParams(n)(c)

  /** Non-distinct variant of [[wordShinglesKernel]]: every n-gram occurrence
    * in order (duplicates kept) — what language-model counting needs, where
    * `P(cur|prev)` weights by occurrence frequency, not set membership.
    * Texts shorter than n words yield an EMPTY array (there is no n-gram to
    * count — unlike the dedup kernel, no whole-text fallback). Same
    * [[wsTokens]] tokenization as the shingle kernel. */
  def wordNgramsAllKernel(s: UTF8String, n: Int): ArrayData = {
    val toks = wsTokens(s.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def wordNgramsAll(c: Column, n: Int = 2): Column = Kernels.WordNgramsAll.withParams(n)(c)

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Fused fingerprint kernel for q24: (min md5 hex over the DISTINCT
    * character n-gram shingles, distinct-shingle count) in ONE pass —
    * semantically identical to
    * `array_min(transform(array_distinct(shingles), md5))` +
    * `size(array_distinct(shingles))`, but without materializing the three
    * intermediate arrays (substring array, distinct array, 32-char hex
    * string per shingle) and with ONE reused MessageDigest instead of the
    * per-call `MessageDigest.getInstance` inside Spark's `md5` (the
    * dominant cost at ~1k shingles/doc). Digests are compared as unsigned
    * bytes — lowercase hex is monotonic in unsigned byte order, so the
    * min digest IS the min hex string. Shingling uses UTF8String's
    * code-point substring, matching `substr` exactly on multibyte text;
    * texts shorter than n fall back to the whole text (the `shingles`
    * convention). */
  def minShingleMd5Kernel(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val md = md5Local.get()
    val seen = new java.util.HashSet[UTF8String]()
    var minDig: Array[Byte] = null
    def offer(sub: UTF8String): Unit =
      if (seen.add(sub)) {
        md.reset()
        val d = md.digest(sub.getBytes)
        if (minDig == null || {
          var c = 0; var i = 0
          while (c == 0 && i < 16) {
            c = (d(i) & 0xFF) - (minDig(i) & 0xFF); i += 1
          }
          c < 0
        }) minDig = d
      }
    val nc = s.numChars()
    if (nc < n) offer(s)
    else {
      var i = 0
      while (i <= nc - n) { offer(s.substring(i, i + n)); i += 1 }
    }
    val hex = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      val b = minDig(i) & 0xFF
      hex.append(Character.forDigit(b >>> 4, 16))
      hex.append(Character.forDigit(b & 0xF, 16))
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(hex.toString), seen.size.toLong))
  }

  def minShingleMd5(c: Column, n: Int = 5): Column = Kernels.MinShingleMd5.withParams(n)(c)

  /** Content-defined chunk kernel for exact span-level dedup. A token is a
    * CUT POINT when the high nibble of md5(token) is 0 (p = 1/16 → expected
    * chunk ≈ 16 tokens); chunks are the token runs between consecutive cut
    * points, distinct in first-occurrence order. Because boundaries derive
    * from token CONTENT, not position, a span copied between documents at
    * ANY offset produces byte-identical interior chunks in both — the
    * property fixed-stride windows lack (their grid is anchored to the
    * document start, so an unaligned copy never collides). This is the
    * rsync/LBFS content-defined-chunking idea applied to token streams.
    * md5 (not XXH64) is the cut hash so the DuckDB oracle can mirror the
    * boundary decision exactly. Head/tail partial runs are NOT emitted
    * (they're position-dependent by nature); documents with fewer than two
    * cut points fall back to the whole whitespace-stripped text, the
    * shingle-family convention, so short exact dups are still caught. */
  def wordCdcChunksKernel(s: UTF8String): ArrayData = {
    val toks = wsTokens(s.toString)
    val md = md5Local.get()
    val cuts = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((d(0) & 0xF0) == 0) cuts += i
      i += 1
    }
    if (cuts.length < 2)
      return new GenericArrayData(Array(UTF8String.fromString(wsStrip(s.toString))))
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(128)
    var c = 0
    while (c < cuts.length - 1) {
      sb.setLength(0)
      var j = cuts(c)
      while (j < cuts(c + 1)) {
        if (j > cuts(c)) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      c += 1
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  def wordCdcChunks(c: Column): Column = Kernels.WordCdcChunks(c)

  /** Sort a string array by the fixed hash order (XXH64 of the element, then
    * the element itself as tiebreaker — a total order). One hash per element
    * + one O(n log n) sort, all inside the row.
    *
    * This is the engine's global shingle order for prefix-filtered set-
    * similarity joins: ANY fixed total order preserves the prefix-filter
    * guarantee (two sets with Jaccard ≥ t must collide within their first
    * ⌊n(1−t)⌋+1 elements under a shared order), so using a content hash
    * instead of corpus document-frequency removes the df-count shuffle, the
    * df join, and the per-doc ranking window from the plan — prefix
    * selection becomes a narrow per-row slice fused into the scan. The
    * tradeoff (df order minimizes candidate count; hash order is ~random) is
    * bounded by PPJoin's length+positional filters and exact verification. */
  def sortByHashKernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val elems = new Array[UTF8String](n)
    val hashes = new Array[Long](n)
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      elems(i) = s
      hashes(i) = hashString(s)
      idx(i) = Integer.valueOf(i)
      i += 1
    }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(hashes(a.intValue()), hashes(b.intValue()))
        if (c != 0) c else elems(a.intValue()).compareTo(elems(b.intValue()))
      }
    })
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) { out(i) = elems(idx(i).intValue()); i += 1 }
    new GenericArrayData(out)
  }

  def sortByHash(c: Column): Column = Kernels.SortByHash(c)

  /** Exact Jaccard of two DISTINCT string arrays: |∩| / (|A|+|B|−|∩|) in one
    * hash-set pass. Equivalent to
    * `size(array_intersect(a,b)) / size(array_union(a,b))` on distinct
    * inputs, but those operators are interpreted per pair — this kernel is
    * the verify step of the similarity join, so it runs once per candidate
    * and must be compiled. */
  def jaccardKernel(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    val (small, large, ns, nl) = if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nl) { if (set.contains(large.getUTF8String(i))) inter += 1; i += 1 }
    inter.toDouble / (na + nb - inter).toDouble
  }

  def jaccardSim(a: Column, b: Column): Column = Kernels.JaccardSim(a, b)

  /** Cosine similarity kernel over double arrays. Summation is left-to-right
    * (same order as `aggregate(zip_with(a,b,_*_), 0.0, _+_)` and DuckDB's
    * list_cosine_similarity), so results are bit-identical to both the
    * higher-order-function formulation and the oracle. Returns NaN-free
    * null via the expression when either norm is zero. */
  def cosineKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  def cosineSim(a: Column, b: Column): Column = Kernels.CosineSim(a, b)

  /** Left-to-right dot product kernel (same order as aggregate(zip_with)). */
  def dotKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  def dotProduct(a: Column, b: Column): Column = Kernels.DotProduct(a, b)

  // ---- multi-table sign-LSH buckets -----------------------------------

  final val LshTables = 8
  final val LshPlanesPerTable = 8
  private final val LshDim = 64

  /** Deterministic hyperplanes, seed-fixed; owned by the kernel so the plan
    * carries NO plane literals — the naive formulation (64 inlined dot
    * products, each with a 64-double array literal) produced generated code
    * large enough that Janino compilation dominated first-run latency. */
  private val lshPlanes: Array[Array[Double]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(LshTables * LshPlanesPerTable)(Array.fill(LshDim)(rnd.nextGaussian()))
  }

  /** Bucket per table: 8 sign bits of the table's plane dot products. */
  def signBucketsKernel(v: ArrayData): ArrayData = {
    val d = math.min(v.numElements(), LshDim)
    val out = new Array[Int](LshTables)
    var t = 0
    while (t < LshTables) {
      var bucket = 0
      var i = 0
      while (i < LshPlanesPerTable) {
        val plane = lshPlanes(t * LshPlanesPerTable + i)
        var dot = 0.0
        var j = 0
        while (j < d) { dot += v.getDouble(j) * plane(j); j += 1 }
        if (dot >= 0) bucket |= (1 << i)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  def signBuckets(c: Column): Column = Kernels.SignBuckets(c)

  def minhashSignature(c: Column, numPerms: Int = NumPermsDefault): Column =
    Kernels.MinHashSignature.withParams(numPerms)(c)

  def simhash64(c: Column): Column = Kernels.SimHash64(c)

  /** Count of agreeing slots between two long-array signatures, over the
    * common prefix (positions past the shorter array never match — identical
    * to `aggregate(zip_with(a, b, (x,y) -> if(x=y,1,0)), 0, +)`, where the
    * null padding of the longer side contributes 0). This is the MinHash
    * verify step: est_jaccard = agreement / numPerms. The HOF formulation is
    * CodegenFallback (interpreted per slot, per candidate pair); this kernel
    * is one compiled loop. */
  def sigAgreementKernel(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var m = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m
  }

  def signatureAgreement(a: Column, b: Column): Column = Kernels.SignatureAgreement(a, b)

  /** Nearest-centroid kernel: argmax-cosine cell id for one vector against
    * the packed centroid arrays (parallel cids/cvs). Same comparison
    * semantics as `max(struct(cosine(v, cv) AS s, -cid AS nc))` — ties on
    * similarity resolve to the smallest cid — and the same summation order
    * as cosineKernel, so assignments are bit-identical to the explode/agg
    * formulation it replaces (asserted in SimilaritySpec), INCLUDING the
    * NaN case: a zero-norm vector's cosine is NaN, which Spark's ordering
    * ranks GREATEST, so such rows tie every cell at NaN and land in the
    * smallest cid — the kernel maps NaN to +Infinity to reproduce exactly
    * that (cosine is otherwise ≤ 1, so +Inf is unreachable). Zero-norm
    * rows therefore get a cell instead of being silently dropped by the
    * downstream equi-join. Turns IVF cell assignment into a pure narrow
    * map: no K× row expansion, no aggregate, no exchange — at 100 TB the
    * corpus is read once and never reshaped. */
  def nearestCentroidKernel(v: ArrayData, cvs: ArrayData, cids: ArrayData): Long = {
    var best = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var i = 0
    val k = cvs.numElements()
    while (i < k) {
      val raw = cosineKernel(v, cvs.getArray(i))
      val sim = if (java.lang.Double.isNaN(raw)) Double.PositiveInfinity else raw
      val cid = cids.getLong(i)
      if (sim > best || (sim == best && cid < bestCid)) { best = sim; bestCid = cid }
      i += 1
    }
    bestCid
  }

  def nearestCentroid(v: Column, cvs: Column, cids: Column): Column =
    Kernels.NearestCentroid(v, cvs, cids)

  /** Product-quantization encode kernel: split the vector into m equal
    * subspaces (m = |v| / |codeword|) and emit, per subspace, the index of
    * the L2-nearest codeword (ties → lowest index). Codebook layout:
    * cbs[s·k + c] is codeword c of subspace s, all of equal length. The
    * code array is the vector's 100 TB at-rest form: m bytes instead of
    * |v| floats (32× for 64-dim float → 8 codes). */
  def pqEncodeKernel(v: ArrayData, cbs: ArrayData): ArrayData = {
    if (cbs.numElements() == 0)
      throw new IllegalArgumentException("pq_encode: empty codebook")
    val subDim = cbs.getArray(0).numElements()
    if (subDim == 0)
      throw new IllegalArgumentException("pq_encode: zero-length codewords")
    if (v.numElements() % subDim != 0)
      throw new IllegalArgumentException(
        s"pq_encode: vector dim ${v.numElements()} not divisible by codeword dim $subDim")
    val m = v.numElements() / subDim
    if (cbs.numElements() % m != 0)
      throw new IllegalArgumentException(
        s"pq_encode: codebook size ${cbs.numElements()} not divisible by $m subspaces " +
          s"(layout must be cbs[s*k + c])")
    val k = cbs.numElements() / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = Double.MaxValue
      var bestC = 0
      var c = 0
      while (c < k) {
        val cw = cbs.getArray(s * k + c)
        var d2 = 0.0
        var j = 0
        while (j < subDim) {
          val diff = v.getDouble(s * subDim + j) - cw.getDouble(j)
          d2 += diff * diff
          j += 1
        }
        if (d2 < best) { best = d2; bestC = c }
        c += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  /** PQ asymmetric-distance scoring kernel: dot(query, reconstruction) —
    * the query stays exact, the corpus vector is its codeword chain. On
    * unit vectors dot-ranking equals (negative) L2 ranking; exact re-rank
    * downstream fixes residual quantization error. */
  def pqAdcSimKernel(qv: ArrayData, codes: ArrayData, cbs: ArrayData): Double = {
    if (cbs.numElements() == 0)
      throw new IllegalArgumentException("pq_adc_sim: empty codebook")
    val subDim = cbs.getArray(0).numElements()
    val m = codes.numElements()
    if (m == 0 || cbs.numElements() % m != 0)
      throw new IllegalArgumentException(
        s"pq_adc_sim: codebook size ${cbs.numElements()} not divisible by $m codes")
    if (qv.numElements() != m * subDim)
      throw new IllegalArgumentException(
        s"pq_adc_sim: query dim ${qv.numElements()} != $m codes x codeword dim $subDim")
    val k = cbs.numElements() / m
    var dot = 0.0
    var s = 0
    while (s < m) {
      val cw = cbs.getArray(s * k + codes.getInt(s))
      var j = 0
      while (j < subDim) {
        dot += qv.getDouble(s * subDim + j) * cw.getDouble(j)
        j += 1
      }
      s += 1
    }
    dot
  }

  def pqEncode(v: Column, cbs: Column): Column = Kernels.PqEncode(v, cbs)
  def pqAdcSim(qv: Column, codes: Column, cbs: Column): Column = Kernels.PqAdcSim(qv, codes, cbs)

  // -- int8 scalar quantization (SQ) ---------------------------------------
  // The training-free quantization tier: no codebook at all — each vector
  // carries its own max-abs scale and 8-bit codes. 4× smaller than float32
  // at rest (vs PQ's 32× with training); the usual first step down from
  // full precision in a vector store.

  /** Per-vector symmetric scale: maxAbs/127, or 1.0 for the zero vector so
    * encode never divides by zero (zero vector → all-zero codes, scale 1 —
    * reconstructs exactly; the NaN-guard lesson from nearest_centroid is
    * built in from the start here). */
  def sqScaleKernel(v: ArrayData): Double = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i)); if (a > maxAbs) maxAbs = a; i += 1
    }
    if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
  }

  /** int8 codes: round(x / scale), clamped to [-127, 127]. Deterministic
    * (half-up rounding) and self-inverse enough for ADC: x ≈ code·scale. */
  def sqEncodeKernel(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val scale = sqScaleKernel(v)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val c = math.round(v.getDouble(i) / scale).toInt
      out(i) = if (c > 127) 127 else if (c < -127) -127 else c
      i += 1
    }
    new GenericArrayData(out)
  }

  /** SQ asymmetric similarity: dot(query, code·scale) — the query stays
    * exact, the corpus vector is its 8-bit reconstruction. The scale factors
    * out of the loop, so the hot path is int×double multiply-adds. */
  def sqAdcSimKernel(qv: ArrayData, codes: ArrayData, scale: Double): Double = {
    val n = codes.numElements()
    if (qv.numElements() != n)
      throw new IllegalArgumentException(
        s"sq_adc_sim: query dim ${qv.numElements()} != ${n} codes")
    var dot = 0.0
    var i = 0
    while (i < n) { dot += qv.getDouble(i) * codes.getInt(i); i += 1 }
    dot * scale
  }

  def sqScale(v: Column): Column = Kernels.SqScale(v)
  def sqEncode(v: Column): Column = Kernels.SqEncode(v)
  def sqAdcSim(qv: Column, codes: Column, scale: Column): Column =
    Kernels.SqAdcSim(qv, codes, scale)
}
