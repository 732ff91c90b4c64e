package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, Sketches}
import graft.analytics.TextStats

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("word shingles: distinct trigrams, short-text fallback, kernel matches HOF formulation") {
    val df = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "  p  q r  ")).toDF("id", "t")
    val got = df.select($"id", TextStats.wordShingles($"t").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d", "c d e"))
    assert(got(2L) == Seq("x y"))          // < 3 tokens → whole trimmed text
    assert(got(3L) == Seq("p q r"))        // multi-space collapsed
    // distinctness
    val dup = Seq("w w w w w").toDF("t")
      .select(TextStats.wordShingles($"t")).head().getSeq[String](0)
    assert(dup == Seq("w w w"))
  }

  test("cosine kernel is bit-identical to the aggregate(zip_with) formulation") {
    val e = graft.Tables.embeddings(spark, sf("sf0.001")).limit(50)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val hof = e.as("a").crossJoin(e.as("b"))
      .select(
        aggregate(zip_with($"a.v", $"b.v", (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
          ./(sqrt(aggregate($"a.v", lit(0.0), (acc, x) => acc + x * x)) *
             sqrt(aggregate($"b.v", lit(0.0), (acc, x) => acc + x * x))).as("c1"),
        Sketches.cosineSim($"a.v", $"b.v").as("c2"))
      .collect()
    hof.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-equal, no tolerance
  }

  test("signature_agreement kernel matches the aggregate(zip_with) formulation") {
    // minhash signatures of overlapping shingle sets → realistic mix of
    // agreeing and disagreeing slots; plus unequal lengths and empties to
    // pin the padding semantics (zip_with pads the short side with null →
    // contributes 0, kernel stops at the common prefix — same count)
    val texts = Seq(
      "a b c d e f g h", "a b c d e f g x", "totally different words here now",
      "a b c d e f g h", "x y z").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val sigs = texts.toDF("id", "t")
      .select($"id", Sketches.minhashSignature(TextStats.wordShingles($"t")).as("s"))
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .select($"a.s".as("sa"),
        // truncate one side on odd pairs to exercise unequal lengths
        when(($"a.id" + $"b.id") % 2 === 1, slice($"b.s", 1, 40)).otherwise($"b.s").as("sb"))
    val got = pairs.select(
        Sketches.signatureAgreement($"sa", $"sb").as("kernel"),
        aggregate(zip_with($"sa", $"sb", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("hof"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // empty arrays agree on nothing
    val empty = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("x", "y")
      .select(Sketches.signatureAgreement($"x", $"y")).head().getInt(0)
    assert(empty == 0)
  }

  test("salted join matches the plain join") {
    val big = graft.Tables.lineitem(spark, sf("sf0.001"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    val small = graft.Tables.orders(spark, sf("sf0.001"))
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    val plain = big.join(small, "l_orderkey")
    val salted = graft.functions.SkewJoin.saltedJoin(big, small, "l_orderkey", "l_linenumber", 8)
    assert(salted.count() == plain.count())
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(1))
    assert(salted.collect().map(key).sorted.toSeq == plain.collect().map(key).sorted.toSeq)
  }

  test("sort_by_hash: deterministic total order, permutation-invariant, preserves elements") {
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("c d e", "a b c", "b c d")), // same set, different input order
      (3L, Seq.empty[String])).toDF("id", "sh")
    val got = df.select($"id", Sketches.sortByHash($"sh").as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == got(2L), "hash order must not depend on input order")
    assert(got(1L).sorted == Seq("a b c", "b c d", "c d e"), "must preserve elements")
    assert(got(3L).isEmpty)
    // stable across evaluations (fixed seed)
    val again = df.filter($"id" === 1L).select(Sketches.sortByHash($"sh")).head().getSeq[String](0)
    assert(again == got(1L))
  }

  test("Materialize: reliable-checkpoint toggle via spark.graft.checkpoint.dir") {
    import graft.functions.Materialize
    val df = spark.range(100).toDF("id")
    // default: localCheckpoint path
    assert(Materialize(df).count() == 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val out = Materialize(df)
      assert(out.count() == 100)
      // aggregates observed by the materializing job hold in this mode too
      // (a partitioned compaction's kept-slice set rides them)
      import org.apache.spark.sql.functions.{col, collect_set, count, lit}
      val (_, seen) = Materialize.observed(df, count(lit(1)).as("n"),
        collect_set(col("id") % 3).as("s"))
      assert(seen("n") == 100L &&
        seen("s").asInstanceOf[scala.collection.Seq[Any]].toSet == Set(0L, 1L, 2L))
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains("graft_ckpt")),
        "reliable checkpoint dir must be installed")
      // checkpoint files actually landed on (simulated) durable storage
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint must write files")
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("word_ngrams_all: keeps duplicates in order, empty below n, matches HOF formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("a b a b c", "x", "  ", "one two").toDF("s")
    val got = df.select(graft.functions.Sketches.wordNgramsAll($"s", 2).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b", "b a", "a b", "b c")) // duplicate "a b" kept
    assert(got(1) == Seq.empty && got(2) == Seq.empty)
    assert(got(3) == Seq("one two"))
    // parity with the transform(sequence(...)) HOF formulation on real docs
    val docs = graft.Tables.documents(spark, sf("sf0.001")).limit(50)
    val hof = docs.selectExpr(
      """transform(sequence(1, size(split(trim(text), '\\s+')) - 1),
        |  i -> concat_ws(' ', split(trim(text), '\\s+')[i-1],
        |                      split(trim(text), '\\s+')[i]))""".stripMargin)
      .collect().map(_.getSeq[String](0))
    val kern = docs.select(graft.functions.Sketches.wordNgramsAll(col("text"), 2))
      .collect().map(_.getSeq[String](0))
    assert(kern.toSeq == hof.toSeq)
  }

  test("custom expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT word_shingles('a b c d') AS sh,
        |       size(minhash_signature(word_shingles('a b c d'))) AS np,
        |       hamming_distance(255L, 15L) AS hd,
        |       round(cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)), 4) AS cs,
        |       jaccard_sim(array('a','b'), array('b','c')) AS js,
        |       simhash64(word_shingles('a b c d')) IS NOT NULL AS sh_ok
        |""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getInt(1) == 64)
    assert(r.getInt(2) == 4)
    assert(r.getDouble(3) == 1.0)
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 1e-12)
    assert(r.getBoolean(5))
  }
}
