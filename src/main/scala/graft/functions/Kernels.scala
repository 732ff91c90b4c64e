package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** A static scalar kernel as a SQL function: its SQL `name`, the kernel
  * `method` on the `owner` object, the result type and the column input
  * types. `params` are constants appended to every call (an n-gram width,
  * a permutation count); they are not columns and are not displayed.
  * `Kernels.CosineSim(a, b)` is the Column API form; [[GraftExtensions]]
  * registers every kernel of [[Kernels.all]] under its name for SQL. */
final case class Kernel(name: String, owner: Class[_], method: String,
    dataType: DataType, inputTypes: Seq[DataType], params: Seq[Any] = Nil) {

  def apply(args: Column*): Column = toColumn(expr(args.map(toExpression)))

  /** This kernel with other constants, e.g. `WordShingles.withParams(5)`. */
  def withParams(ps: Any*): Kernel = copy(params = ps)

  /** The SQL builder: one argument per input type. */
  def expr(args: Seq[Expression]): Expression = {
    require(args.length == inputTypes.length,
      s"$name takes ${inputTypes.length} argument(s), got ${args.length}")
    NamedKernel(this, args)
  }
}

/** The one Catalyst expression every [[Kernel]] binds through.
  *
  * Inputs are type-checked, never implicitly cast (`ExpectsInputTypes`).
  * Evaluation and code generation are Spark's `StaticInvoke` on the
  * owner's static forwarder: a null input gives a null result without a
  * call, and the generated code calls the kernel directly, so interpreted
  * and whole-stage-codegen plans run the same method. The node itself
  * stays in the plan, so plans and output columns read
  * `cosine_sim(a, b)`, and it is nullable exactly when an input is.
  */
case class NamedKernel(kernel: Kernel, children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  override def inputTypes = kernel.inputTypes
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  @transient private lazy val invoke: Expression = StaticInvoke(kernel.owner, dataType,
    kernel.method, children ++ kernel.params.map(Literal(_)), returnNullable = false)

  override def eval(input: InternalRow): Any = invoke.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** The kernel table: every scalar kernel of the engine, with its SQL
  * signature. The kernels themselves live with their owners ([[Sketches]],
  * [[UnicodeNorm]], [[Compress]], [[BitOps]], [[KmvSketch]]). */
object Kernels {
  private val strings = ArrayType(StringType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val vec = ArrayType(DoubleType)
  private val vecs = ArrayType(ArrayType(DoubleType))

  private def sketch(name: String, method: String, out: DataType, in: DataType*) =
    Kernel(name, Sketches.getClass, method, out, in)

  val WordShingles = sketch("word_shingles", "wordShinglesKernel", strings, StringType)
    .withParams(3)
  val WordNgramsAll = sketch("word_ngrams_all", "wordNgramsAllKernel", strings, StringType)
    .withParams(2)
  val MinShingleMd5 = sketch("min_shingle_md5", "minShingleMd5Kernel",
    StructType(Seq(StructField("fp_min_shingle", StringType, nullable = false),
      StructField("n_shingles", LongType, nullable = false))), StringType).withParams(5)
  val WordCdcChunks = sketch("word_cdc_chunks", "wordCdcChunksKernel", strings, StringType)
  val SortByHash = sketch("sort_by_hash", "sortByHashKernel", strings, ArrayType(StringType))
  val MinHashSignature = sketch("minhash_signature", "minhashKernel", longs,
    ArrayType(StringType)).withParams(Sketches.NumPermsDefault)
  val SimHash64 = sketch("simhash64", "simhashKernel", LongType, ArrayType(StringType))
  val SimHash128 = sketch("simhash128", "simhash128Kernel", longs, ArrayType(StringType))
  val JaccardSim = sketch("jaccard_sim", "jaccardKernel", DoubleType,
    ArrayType(StringType), ArrayType(StringType))
  val SignatureAgreement = sketch("signature_agreement", "sigAgreementKernel", IntegerType,
    ArrayType(LongType), ArrayType(LongType))
  val CosineSim = sketch("cosine_sim", "cosineKernel", DoubleType, vec, vec)
  val DotProduct = sketch("dot_product", "dotKernel", DoubleType, vec, vec)
  val SignBuckets = sketch("sign_buckets", "signBucketsKernel", ints, vec)
  val NearestCentroid = sketch("nearest_centroid", "nearestCentroidKernel", LongType,
    vec, vecs, ArrayType(LongType))
  val PqEncode = sketch("pq_encode", "pqEncodeKernel", ints, vec, vecs)
  val PqAdcSim = sketch("pq_adc_sim", "pqAdcSimKernel", DoubleType,
    vec, ArrayType(IntegerType), vecs)
  val SqScale = sketch("sq_scale", "sqScaleKernel", DoubleType, vec)
  val SqEncode = sketch("sq_encode", "sqEncodeKernel", ints, vec)
  val SqAdcSim = sketch("sq_adc_sim", "sqAdcSimKernel", DoubleType,
    vec, ArrayType(IntegerType), DoubleType)

  val NfcNormalize = Kernel("nfc_normalize", UnicodeNorm.getClass, "nfcKernel",
    StringType, Seq(StringType))
  val DeflateRatio = Kernel("deflate_ratio", Compress.getClass, "deflateRatioKernel",
    DoubleType, Seq(StringType))
  val HammingDistance = Kernel("hamming_distance", BitOps.getClass, "hammingKernel",
    IntegerType, Seq(LongType, LongType))

  private def kmv(name: String, method: String, out: DataType, arity: Int) =
    Kernel(name, KmvSketch.getClass, method, out, Seq.fill(arity)(BinaryType))

  val KmvEstimate = kmv("kmv_estimate", "estimateKernel", DoubleType, 1)
  val KmvUnion = kmv("kmv_union", "unionKernel", BinaryType, 2)
  val KmvIntersectEstimate = kmv("kmv_intersect_estimate", "intersectEstimateKernel",
    DoubleType, 2)
  val KmvJaccard = kmv("kmv_jaccard", "jaccardEstimateKernel", DoubleType, 2)

  val all: Seq[Kernel] = Seq(WordShingles, WordNgramsAll, MinShingleMd5, WordCdcChunks,
    SortByHash, MinHashSignature, SimHash64, SimHash128, JaccardSim, SignatureAgreement,
    CosineSim, DotProduct, SignBuckets, NearestCentroid, PqEncode, PqAdcSim, SqScale,
    SqEncode, SqAdcSim, NfcNormalize, DeflateRatio, HammingDistance, KmvEstimate, KmvUnion,
    KmvIntersectEstimate, KmvJaccard)
}
