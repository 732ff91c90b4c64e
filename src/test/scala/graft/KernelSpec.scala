package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.functions._

/** Every registered kernel, table-driven: the SQL name in plans and
  * output columns, codegen ≡ interpreted evaluation bit for bit with null
  * propagation, no implicit casts, and the SQL form ≡ the Column form.
  * All kernels run side by side in one projection, so each check is one
  * small job. */
class KernelSpec extends SparkSpec {

  /** (SQL name, argument columns, Column API form) */
  private val table: Seq[(String, Seq[String], Seq[Column] => Column)] = Seq(
    ("word_shingles", Seq("text"), c => Sketches.wordShingles(c(0))),
    ("word_ngrams_all", Seq("text"), c => Sketches.wordNgramsAll(c(0))),
    ("min_shingle_md5", Seq("text"), c => Sketches.minShingleMd5(c(0))),
    ("word_cdc_chunks", Seq("text"), c => Sketches.wordCdcChunks(c(0))),
    ("sort_by_hash", Seq("words"), c => Sketches.sortByHash(c(0))),
    ("minhash_signature", Seq("words"), c => Sketches.minhashSignature(c(0))),
    ("simhash64", Seq("words"), c => Sketches.simhash64(c(0))),
    ("simhash128", Seq("words"), c => Sketches.simhash128(c(0))),
    ("jaccard_sim", Seq("words", "words2"), c => Sketches.jaccardSim(c(0), c(1))),
    ("signature_agreement", Seq("sig", "sig2"), c => Sketches.signatureAgreement(c(0), c(1))),
    ("cosine_sim", Seq("v", "w"), c => Sketches.cosineSim(c(0), c(1))),
    ("dot_product", Seq("v", "w"), c => Sketches.dotProduct(c(0), c(1))),
    ("sign_buckets", Seq("v"), c => Sketches.signBuckets(c(0))),
    ("nearest_centroid", Seq("v", "cvs", "cids"),
      c => Sketches.nearestCentroid(c(0), c(1), c(2))),
    ("pq_encode", Seq("v", "cbs"), c => Sketches.pqEncode(c(0), c(1))),
    ("pq_adc_sim", Seq("v", "pq", "cbs"), c => Sketches.pqAdcSim(c(0), c(1), c(2))),
    ("sq_scale", Seq("v"), c => Sketches.sqScale(c(0))),
    ("sq_encode", Seq("v"), c => Sketches.sqEncode(c(0))),
    ("sq_adc_sim", Seq("v", "sq", "scale"), c => Sketches.sqAdcSim(c(0), c(1), c(2))),
    ("nfc_normalize", Seq("text"), c => UnicodeNorm.nfc(c(0))),
    ("deflate_ratio", Seq("text"), c => Compress.deflateRatio(c(0))),
    ("hamming_distance", Seq("h", "h2"), c => BitOps.hammingDistance(c(0), c(1))),
    ("kmv_estimate", Seq("kmv"), c => KmvSketch.kmvEstimate(c(0))),
    ("kmv_union", Seq("kmv", "kmv2"), c => KmvSketch.kmvUnion(c(0), c(1))),
    ("kmv_intersect_estimate", Seq("kmv", "kmv2"),
      c => KmvSketch.kmvIntersectEstimate(c(0), c(1))),
    ("kmv_jaccard", Seq("kmv", "kmv2"), c => KmvSketch.kmvJaccard(c(0), c(1))))

  private def sketch(from: Long, to: Long): Array[Byte] = {
    val s = new KmvSketch.Kmv(16)
    (from until to).foreach(i => s.insert(i * 0x9E3779B97F4A7C15L))
    s.toBytes
  }

  /** Two rows of values and one row of nulls, from an RDD: a local
    * relation would be evaluated by the optimizer, not by generated code. */
  private lazy val input: DataFrame = {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("words", ArrayType(StringType)),
      StructField("words2", ArrayType(StringType)), StructField("v", ArrayType(DoubleType)),
      StructField("w", ArrayType(DoubleType)),
      StructField("cvs", ArrayType(ArrayType(DoubleType))),
      StructField("cids", ArrayType(LongType)),
      StructField("cbs", ArrayType(ArrayType(DoubleType))),
      StructField("pq", ArrayType(IntegerType)), StructField("sq", ArrayType(IntegerType)),
      StructField("scale", DoubleType), StructField("sig", ArrayType(LongType)),
      StructField("sig2", ArrayType(LongType)), StructField("h", LongType),
      StructField("h2", LongType), StructField("kmv", BinaryType),
      StructField("kmv2", BinaryType), StructField("i", IntegerType)))
    val cbs = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.5), Seq(0.5, -1.0))
    val cvs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val rows = Seq(
      Row(java.text.Normalizer.normalize("Quận Hai Bà Trưng nhà mặt phố nhà mặt phố",
          java.text.Normalizer.Form.NFD), Seq("a", "b", "c"), Seq("b", "c", "d"),
        Seq(0.5, -1.25, 3.0, 0.1), Seq(1.0, 2.0, -0.5, 0.0), cvs, Seq(7L, 3L), cbs,
        Seq(0, 1), Seq(12, -127, 40, 3), 0.02, Seq(1L, 2L, 3L), Seq(1L, 5L, 3L),
        0x0F0FL, 0xFF00L, sketch(0, 40), sketch(20, 60), 1),
      Row("spam " * 40, Seq("x"), Seq.empty[String], Seq(0.0, 0.0, 0.0, 0.0),
        Seq(1.0, 1.0, 1.0, 1.0), cvs, Seq(7L, 3L), cbs, Seq(1, 0), Seq(0, 0, 0, 0), 1.0,
        Seq(9L), Seq(9L, 8L), -1L, 0L, sketch(0, 5), sketch(100, 120), 2),
      Row.fromSeq(Seq.fill(schema.length - 1)(null) :+ 3))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def columnForm: DataFrame =
    input.select(table.map { case (_, args, f) => f(args.map(col)) }: _*)

  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(canon)
    case r: Row => r.toSeq.map(canon)
    case x => x
  }

  private def results(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq.map(canon))

  private def sqlOf(name: String, args: Seq[String]) = s"$name(${args.mkString(", ")})"

  test("the table covers every kernel, and SQL registers every kernel") {
    assert(table.map(_._1).toSet == Kernels.all.map(_.name).toSet)
    assert(Kernels.all.map(_.name).toSet.subsetOf(GraftExtensions.registrations.map(_._1).toSet))
    // each SQL function names the class that implements it, not one shared owner
    assert(GraftExtensions.registrations.map(r => r._1 -> r._2).toMap ==
      (Kernels.all.map(k => k.name -> k.owner.getName.stripSuffix("$")) ++ Seq(
        "kmv_sketch" -> "graft.functions.KmvSketch$KmvSketchAgg",
        "kmv_merge" -> "graft.functions.KmvSketch$KmvMergeAgg",
        "graft_quantile_sketch" -> "graft.functions.QuantileSketch$QuantileSketchAgg")).toMap)
  }

  test("plans and output columns carry the SQL name; constants stay out of both") {
    assert(columnForm.columns.toSeq == table.map { case (n, args, _) => sqlOf(n, args) })
    table.foreach { case (name, args, f) =>
      val plan = input.select(f(args.map(col))).queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
      val shown = s"""$name\\(${args.map(a => s"$a#\\d+L?").mkString(", ")}\\)""".r
      assert(shown.findFirstIn(plan.toString).isDefined, s"$name:\n$plan")
    }
  }

  test("codegen and interpreted evaluation agree bit for bit; a null input gives null") {
    val generated = results(columnForm)
    assert(generated(2).forall(_ == null), s"null row: ${generated(2)}")
    assert(generated.take(2).forall(_.forall(_ != null)))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted = try results(columnForm) finally confs.foreach(c => spark.conf.unset(c._1))
    table.map(_._1).zipWithIndex.foreach { case (name, i) =>
      assert(generated.map(_(i)) == interpreted.map(_(i)), s"$name: codegen ≠ interpreted")
    }
  }

  test("a wrong input type fails at analysis: no implicit cast") {
    table.foreach { case (name, args, f) =>
      val e = intercept[AnalysisException](input.select(f(col("i") +: args.tail.map(col))))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$name: ${e.getMessage}")
    }
  }

  test("the SQL-registered form equals the Column form") {
    GraftExtensions.register(spark)
    val sql = input.selectExpr(table.map { case (n, args, _) => sqlOf(n, args) }: _*)
    val api = columnForm
    assert(sql.columns.toSeq == api.columns.toSeq)
    assert(results(sql) == results(api))
  }
}
