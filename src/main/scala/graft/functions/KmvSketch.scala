package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** K-minimum-values ("KMV" / bottom-k theta) sketch: a mergeable
  * distinct-count summary that — unlike HLL — also supports SET ALGEBRA
  * between sketches: union, intersection-size and Jaccard estimates. That
  * is the capability HLL fundamentally lacks (HLL registers can union but
  * not intersect), and it is what cross-split contamination measurement
  * needs at warehouse scale: estimate |train-keys ∩ test-keys| from two
  * kilobyte sketches instead of an exact distinct join over 100 TB.
  *
  * Structure: the k numerically-smallest (unsigned order) distinct 64-bit
  * hashes seen. The k-th smallest hash, scaled to (0,1], is an order
  * statistic of k uniform draws, so E[theta] ~ k/D and the unbiased
  * distinct estimate is (k-1)/theta with relative standard error
  * ~ 1/sqrt(k-2) (Beyer et al., "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations", SIGMOD'07). With fewer than k distinct
  * hashes the sketch IS the exact value set and every estimate is exact —
  * small groups pay no estimation error at all.
  *
  * Set algebra on two sketches A, B (same hash function):
  *   - union: the k smallest of A ∪ B — any hash of the true union smaller
  *     than that k-th value is necessarily in A's or B's bottom-k, so the
  *     result is exactly the bottom-k sketch of the combined stream;
  *   - Jaccard: |L ∩ A ∩ B| / |L| over the combined bottom-k L — L is a
  *     uniform sample of the union's hash set, so membership-in-both is a
  *     binomial proportion estimate of J(A,B);
  *   - intersection: J_est · union_est.
  *
  * Determinism: the kept set is "the k smallest distinct hashes", a pure
  * function of the input VALUE SET — independent of partitioning, merge
  * order, or duplication. Estimates are therefore bitwise reproducible
  * across any cluster layout, which is what lets correctness gates assert
  * exact error bounds instead of with-high-probability claims.
  *
  * The aggregate takes an already-hashed LONG column — compose with
  * Spark's codegen'd `xxhash64(...)` so the per-row hash stays inside
  * whole-stage codegen; only the bounded sketch state lives out-of-line.
  * Scale posture: per-group state is O(k) longs regardless of input size,
  * `merge` is associative, and the shuffle carries ≤ 8k-byte buffers —
  * the same contract as [[QuantileSketch]].
  */
object KmvSketch {

  @inline private def uLt(a: Long, b: Long): Boolean =
    java.lang.Long.compareUnsigned(a, b) < 0

  /** Aggregation buffer: an append log compacted to the k smallest distinct
    * hashes whenever it fills. Amortized O(log k) per retained insert, O(1)
    * per filtered-out insert (a single unsigned compare against the current
    * k-th smallest). */
  final class Kmv(val k: Int) extends Serializable {
    // invariant after compact(): buf[0..len) sorted unsigned, distinct;
    // if full, len == k and threshold == buf(k-1)
    private[functions] var buf: Array[Long] = new Array[Long](math.max(2 * k, 16))
    private[functions] var len: Int = 0
    private[functions] var full: Boolean = false
    private[functions] var threshold: Long = -1L // unsigned max until full

    def insert(h: Long): Unit = {
      if (!full || uLt(h, threshold)) {
        buf(len) = h
        len += 1
        if (len == buf.length) compact()
      }
    }

    /** Sort unsigned, dedup, truncate to the k smallest. */
    private[functions] def compact(): Unit = {
      if (len == 0) return
      var i = 0
      while (i < len) { buf(i) = buf(i) ^ Long.MinValue; i += 1 } // unsigned → signed order
      java.util.Arrays.sort(buf, 0, len)
      var w = 0
      i = 0
      while (i < len) {
        if (w == 0 || buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
        i += 1
      }
      len = math.min(w, k)
      i = 0
      while (i < len) { buf(i) = buf(i) ^ Long.MinValue; i += 1 }
      if (w >= k) { full = true; threshold = buf(len - 1) }
    }

    /** The kept hash set, sorted unsigned ascending. */
    def values: Array[Long] = { compact(); java.util.Arrays.copyOf(buf, len) }

    def estimate: Double = {
      compact()
      if (!full) len.toDouble
      else (len - 1).toDouble / unsignedToUnit(threshold)
    }

    def mergeWith(o: Kmv): Unit = {
      require(o.k == k, s"cannot merge KMV sketches of different k: $k vs ${o.k}")
      val vs = o.values
      var i = 0
      while (i < vs.length) { insert(vs(i)); i += 1 }
      compact()
    }

    def toBytes: Array[Byte] = {
      compact()
      val bb = ByteBuffer.allocate(8 + 8 * len)
      bb.putInt(k)
      bb.putInt(len | (if (full) Int.MinValue else 0))
      var i = 0
      while (i < len) { bb.putLong(buf(i)); i += 1 }
      bb.array()
    }
  }

  /** h as unsigned 64-bit, scaled to (0, 1]. */
  @inline private[functions] def unsignedToUnit(h: Long): Double = {
    // (h >>> 1) keeps 63 high bits exactly in a double's 53-bit mantissa's
    // range acceptably; add the low bit back for (0,1] openness
    ((h >>> 1).toDouble * 2.0 + (h & 1L).toDouble + 1.0) / 1.8446744073709552e19
  }

  object Kmv {
    def fromBytes(bytes: Array[Byte]): Kmv = {
      val bb = ByteBuffer.wrap(bytes)
      val sk = new Kmv(bb.getInt)
      val lenWord = bb.getInt
      sk.len = lenWord & Int.MaxValue
      sk.full = (lenWord & Int.MinValue) != 0
      if (sk.buf.length < sk.len) sk.buf = new Array[Long](sk.len)
      var i = 0
      while (i < sk.len) { sk.buf(i) = bb.getLong; i += 1 }
      if (sk.full) sk.threshold = sk.buf(sk.len - 1)
      sk
    }

    /** Union / intersection / Jaccard estimates straight from two
      * serialized sketches (both sides already sorted unsigned). */
    def setEstimates(a: Kmv, b: Kmv): (Double, Double, Double) = {
      val va = a.values
      val vb = b.values
      val kk = math.min(a.k, b.k)
      // merge the two sorted lists, keeping the kk smallest distinct and
      // counting how many of those appear in BOTH
      var i = 0; var j = 0; var kept = 0; var inBoth = 0
      var last = 0L; var haveLast = false
      var kth = -1L
      while (kept < kk && (i < va.length || j < vb.length)) {
        val takeA = j >= vb.length || (i < va.length && uLt(va(i), vb(j)))
        val v = if (takeA) va(i) else vb(j)
        val dup = i < va.length && j < vb.length && va(i) == vb(j)
        if (takeA) i += 1 else j += 1
        if (dup) { if (takeA) j += 1 else i += 1 } // consume both copies
        if (!haveLast || v != last) {
          kept += 1
          if (dup) inBoth += 1
          kth = v
          last = v; haveLast = true
        }
      }
      val unionExhausted = i >= va.length && j >= vb.length && !a.full && !b.full
      val unionEst =
        if (unionExhausted || kept < kk) kept.toDouble
        else (kept - 1).toDouble / unsignedToUnit(kth)
      val jaccard = if (kept == 0) 0.0 else inBoth.toDouble / kept.toDouble
      val interEst =
        if (unionExhausted || kept < kk) inBoth.toDouble // exact: sample = full set
        else jaccard * unionEst
      (unionEst, interEst, jaccard)
    }
  }

  /** `kmv_sketch(hash_long, k)` → binary serialized sketch. Compose with
    * `xxhash64(cols...)` for the row hash. */
  case class KmvSketchAgg(
      child: Expression,
      k: Int = 1024,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Kmv] with UnaryLike[Expression] {

    // Upper bound guards the Kmv buffer allocation: `new Array[Long](2*k)`
    // overflows for k > 2^30 (2*k negative → 16-slot fallback) and would
    // crash with ArrayIndexOutOfBounds after 16 distinct inserts. The
    // KmvMergeAgg empty-buffer sentinel (k = Int.MaxValue) is exempt by
    // construction — it never receives inserts — so the bound lives here,
    // at the user-facing aggregate, not in the Kmv constructor.
    require(k >= 2 && k <= (1 << 30),
      s"kmv_sketch k must be in [2, 2^30], got $k")

    override def createAggregationBuffer(): Kmv = new Kmv(k)

    override def update(b: Kmv, input: InternalRow): Kmv = {
      val v = child.eval(input)
      if (v != null) b.insert(v.asInstanceOf[Long])
      b
    }

    override def merge(b: Kmv, o: Kmv): Kmv = { b.mergeWith(o); b }
    override def eval(b: Kmv): Any = b.toBytes
    override def serialize(b: Kmv): Array[Byte] = b.toBytes
    override def deserialize(bytes: Array[Byte]): Kmv = Kmv.fromBytes(bytes)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch expects a LONG hash (use xxhash64), got ${child.dataType}")

    override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
      copy(child = newChild)
    override def prettyName: String = "kmv_sketch"
  }

  /** `kmv_merge(sketch_binary)` → binary: rollup aggregate over stored
    * sketches (partition-level sketches → table-level sketch without
    * touching the raw data — the q151 rollup pattern, with set algebra). */
  case class KmvMergeAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Kmv] with UnaryLike[Expression] {

    // k is carried inside each serialized sketch; the buffer adopts the
    // first one it sees (merging mismatched k still fails fast in mergeWith)
    override def createAggregationBuffer(): Kmv = new Kmv(0x7fffffff)

    override def update(b: Kmv, input: InternalRow): Kmv = {
      val v = child.eval(input)
      if (v == null) b
      else {
        val o = Kmv.fromBytes(v.asInstanceOf[Array[Byte]])
        if (b.k == 0x7fffffff) o else { b.mergeWith(o); b }
      }
    }

    override def merge(b: Kmv, o: Kmv): Kmv =
      if (o.k == 0x7fffffff) b
      else if (b.k == 0x7fffffff) o
      else { b.mergeWith(o); b }

    override def eval(b: Kmv): Any =
      if (b.k == 0x7fffffff) null else b.toBytes
    override def serialize(b: Kmv): Array[Byte] = b.toBytes
    override def deserialize(bytes: Array[Byte]): Kmv = Kmv.fromBytes(bytes)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"kmv_merge expects a serialized kmv_sketch (binary), got ${child.dataType}")

    override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): KmvMergeAgg =
      copy(child = newChild)
    override def prettyName: String = "kmv_merge"
  }

  // ---- post-aggregate scalar combinators -------------------------------
  // These run on GROUPED OUTPUT rows (one per group), never on raw data —
  // the per-row work at scale is xxhash64 (codegen'd) + the aggregate
  // above. Bound as `kmv_estimate`, `kmv_union`, `kmv_intersect_estimate`
  // and `kmv_jaccard` by [[Kernels]].

  /** Distinct-count estimate of one serialized sketch. */
  def estimateKernel(s: Array[Byte]): Double = Kmv.fromBytes(s).estimate

  /** Serialized sketch of the union of two. */
  def unionKernel(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val sa = Kmv.fromBytes(a)
    sa.mergeWith(Kmv.fromBytes(b))
    sa.toBytes
  }

  /** Estimate of |A ∩ B|. */
  def intersectEstimateKernel(a: Array[Byte], b: Array[Byte]): Double =
    Kmv.setEstimates(Kmv.fromBytes(a), Kmv.fromBytes(b))._2

  /** Estimate of J(A, B). */
  def jaccardEstimateKernel(a: Array[Byte], b: Array[Byte]): Double =
    Kmv.setEstimates(Kmv.fromBytes(a), Kmv.fromBytes(b))._3

  // ---- Column API -------------------------------------------------------
  def kmvSketch(hash: Column, k: Int = 1024): Column =
    toColumn(KmvSketchAgg(toExpression(hash), k).toAggregateExpression())
  def kmvMerge(sketch: Column): Column =
    toColumn(KmvMergeAgg(toExpression(sketch)).toAggregateExpression())
  def kmvEstimate(sketch: Column): Column = Kernels.KmvEstimate(sketch)
  def kmvUnion(a: Column, b: Column): Column = Kernels.KmvUnion(a, b)
  def kmvIntersectEstimate(a: Column, b: Column): Column = Kernels.KmvIntersectEstimate(a, b)
  def kmvJaccard(a: Column, b: Column): Column = Kernels.KmvJaccard(a, b)
}
