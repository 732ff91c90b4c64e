package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.BpeInduction

/** BPE merge induction (q164). */
class BpeInductionSpec extends SparkSpec {
  import spark.implicits._

  /** The round-14 expression formulation of one induction round, the
    * bit-parity oracle for `BpeInduction.mergesOnDriver` (the engine
    * semantics the q164 DuckDB oracle restates are DEFINED by this
    * replace): argmax pair of `words`, then the merged word table. */
  private def expressionRound(words: DataFrame, r: Int): (DataFrame, DataFrame) = {
    val best = graft.functions.Materialize(BpeInduction.pairCounts(words)
      .orderBy(col("cnt").desc, col("pa").asc, col("pb").asc).limit(1)
      .select(lit(r).as("round"), col("pa"), col("pb"),
        concat(col("pa"), col("pb")).as("merged"), col("cnt")))
    val merged = words.crossJoin(broadcast(best))
      .withColumn("seq", expr(
        """trim(replace(concat(' ', seq, ' '),
          | concat(' ', pa, '  ', pb, ' '),
          | concat(' ', merged, ' ')))""".stripMargin))
      .select(col("word"), col("freq"), col("seq"))
    (best, merged)
  }

  test("hand corpus: learns the engineered merges in order") {
    // "aaab" x10, "aab" x5: pair (a,a) dominates (10·2 + 5·1 = 25), then
    // after merging, (aa, ab) vs ... — verify against hand computation:
    // round 1: pairs of 'a a a b _'(10): (a,a)x2,(a,b),(b,_) ; 'a a b _'(5):
    // (a,a),(a,b),(b,_) → (a,a)=25, (a,b)=15, (b,_)=15 → merge aa
    // round 2: 'aa a b _'(10): (aa,a),(a,b),(b,_); 'aa b _'(5): (aa,b),(b,_)
    // → (b,_)=15, (a,b)=10, (aa,a)=10, (aa,b)=5 → merge b_
    val docs = ((1 to 10).map(i => (i.toLong, "aaab")) ++
      (11 to 15).map(i => (i.toLong, "aab"))).toDF("doc_id", "text")
    val words = BpeInduction.wordTable(docs, 100)
    val m = {
      // merges() reads Tables.documents; drive the core loop directly
      var w = words
      (1 to 2).map { r =>
        val best = graft.analytics.BpeInduction.pairCounts(w)
          .orderBy(col("cnt").desc, col("pa").asc, col("pb").asc).limit(1)
          .select(lit(r).as("round"), col("pa"), col("pb"),
            concat(col("pa"), col("pb")).as("merged"), col("cnt")).collect()(0)
        w = w.crossJoin(broadcast(
            Seq((best.getString(1), best.getString(2), best.getString(3)))
              .toDF("pa", "pb", "merged")))
          .withColumn("seq", expr(
            "trim(replace(concat(' ', seq, ' '), concat(' ', pa, '  ', pb, ' '), concat(' ', merged, ' ')))"))
          .select(col("word"), col("freq"), col("seq"))
        (best.getString(3), best.getLong(4))
      }
    }
    assert(m(0) == ("aa", 25L), s"round 1: ${m(0)}")
    assert(m(1) == ("b_", 15L), s"round 2: ${m(1)}")
  }

  test("corpus run: counts non-increasing-ish sanity, merges distinct, replayable") {
    val out = BpeInduction.merges(spark, sf("sf0.01"), rounds = 8).collect()
      .sortBy(_.getAs[Int]("round"))
    assert(out.length == 8)
    assert(out.map(_.getAs[String]("merged")).distinct.length == 8,
      "a pair must never be re-learned: after merging it no longer exists")
    assert(out.forall(r => r.getAs[String]("merged") ==
      r.getAs[String]("pa") + r.getAs[String]("pb")))
    // replay check must bypass the session memo, else it compares a
    // frame with itself
    spark.conf.set("spark.graft.pairgraph.cache", "false")
    val again =
      try BpeInduction.merges(spark, sf("sf0.01"), rounds = 8).collect()
        .sortBy(_.getAs[Int]("round"))
      finally spark.conf.unset("spark.graft.pairgraph.cache")
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the driver-side vocabulary collect is bounded: an over-cap request
    // fails before any job runs
    intercept[IllegalArgumentException](BpeInduction.merges(spark, sf("sf0.01"),
      rounds = 8, topWords = BpeInduction.MaxTopWords + 1))
  }

  test("greedy left-to-right merge application (overlap semantics)") {
    // 'b b b' with merge (b,b) → 'bb b', never 'b bb' (double-space encoding)
    val one = Seq(("w", 1L, "b  b  b  _")).toDF("word", "freq", "seq")
    val applied = one.withColumn("seq",
      expr("trim(replace(concat(' ', seq, ' '), ' b  b ', ' bb '))"))
      .collect()(0).getAs[String]("seq")
    assert(applied == "bb  b  _", applied)
  }

  test("adjacent repeats of the merged pair all merge (the round-7 under-merge)") {
    // 'a b a b' with merge (a,b) must become 'ab ab', not 'ab a b' — the
    // single-space encoding consumed the shared delimiter and under-merged;
    // the double-space encoding leaves one delimiter space per side intact
    val one = Seq(("w", 1L, "a  b  a  b  _")).toDF("word", "freq", "seq")
    val applied = one.withColumn("seq",
      expr("trim(replace(concat(' ', seq, ' '), ' a  b ', ' ab '))"))
      .collect()(0).getAs[String]("seq")
    assert(applied == "ab  ab  _", applied)
  }

  test("q165: tokenize conserves bounds and merges strictly compress") {
    val out = BpeInduction.tokenCounts(spark, sf("sf0.01"), rounds = 8)
    val joined = out.join(
      Tables.documents(spark, sf("sf0.01")).select(col("doc_id"), col("text")), "doc_id")
      .selectExpr("doc_id", "n_bpe_tokens",
        // unmerged count: per [a-z]+ word, chars + sentinel
        "aggregate(filter(split(lower(text), '\\\\s+'), w -> w rlike '^[a-z]+$'), " +
          "0L, (acc, w) -> acc + length(w) + 1) AS unmerged",
        "size(filter(split(lower(text), '\\\\s+'), w -> w rlike '^[a-z]+$')) AS n_words")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (bpe, un, nw) = (r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("unmerged"), r.getAs[Int]("n_words"))
      assert(bpe <= un, s"doc ${r.getLong(0)}: merged $bpe > unmerged $un")
      assert(bpe >= nw, s"doc ${r.getLong(0)}: fewer tokens than words")
    }
    // 8 merges must compress the corpus total strictly
    val total = joined.map(_.getAs[Long]("n_bpe_tokens")).sum
    val unTotal = joined.map(_.getAs[Long]("unmerged")).sum
    assert(total < unTotal, s"no compression: $total vs $unTotal")
  }

  test("property: engine merges equal an in-memory reference BPE on random corpora") {
    // reference implementation: greedy BPE over a word->freq map, same
    // tie-break (count desc, pair lex asc), pure Scala collections
    def refBpe(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
      var seqs: Map[List[String], Long] =
        words.groupMapReduce { case (w, _) => w.map(_.toString).toList :+ "_" }(_._2)(_ + _)
      (1 to rounds).flatMap { _ =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- seqs; Seq(a, b) <- syms.sliding(2))
          counts((a, b)) = counts.getOrElse((a, b), 0L) + f
        if (counts.isEmpty) Nil
        else {
          val ((pa, pb), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          def apply(s: List[String]): List[String] = s match {
            case x :: y :: rest if x == pa && y == pb => (pa + pb) :: apply(rest)
            case x :: rest => x :: apply(rest)
            case Nil => Nil
          }
          seqs = seqs.groupMapReduce { case (s, _) => apply(s) }(_._2)(_ + _)
          Seq((pa, pb, cnt))
        }
      }
    }
    val rng = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val vocabLetters = "abcdef"
      // adversarial tail: adjacent repeats of high-frequency pairs — the
      // exact shapes the single-space encoding under-merged (round-7 bug)
      val corpusWords = (1 to 30).map { _ =>
        (1 to (2 + rng.nextInt(5))).map(_ => vocabLetters(rng.nextInt(vocabLetters.length))).mkString
      } ++ Seq("abab", "ababab", "aaaa", "aaab")
      val docs = corpusWords.zipWithIndex
        .map { case (w, i) => (i.toLong, (w + " ") * (1 + rng.nextInt(3))) }
        .toDF("doc_id", "text")
      val freqs = docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = refBpe(freqs, 4)
      val words = BpeInduction.wordTable(docs, 1000)
      var w = words
      val got = (1 to 4).map { r =>
        val best = graft.analytics.BpeInduction.pairCounts(w)
          .orderBy(col("cnt").desc, col("pa").asc, col("pb").asc).limit(1).collect()(0)
        w = w.crossJoin(broadcast(Seq((best.getString(0), best.getString(1)))
            .toDF("pa", "pb")))
          .withColumn("seq", expr(
            "trim(replace(concat(' ', seq, ' '), concat(' ', pa, '  ', pb, ' '), concat(' ', pa, pb, ' ')))"))
          .select(col("word"), col("freq"), col("seq"))
        (best.getString(0), best.getString(1), best.getLong(2))
      }
      assert(got == expected, s"trial $trial: engine $got vs reference $expected")
    }
  }

  test("driver-side induction ≡ the expression formulation (round-15 bit parity)") {
    // merges() now collects the ≤topWords vocabulary and runs the argmax
    // loop on the driver; the former per-round Spark-expression shape is
    // retained as expressionRound and must agree merge-for-merge,
    // count-for-count — including on the adversarial adjacent-repeat words
    val rng = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val corpusWords = (1 to 25).map { _ =>
        (1 to (2 + rng.nextInt(5))).map(_ => "abcde"(rng.nextInt(5))).mkString
      } ++ Seq("abab", "ababab", "aaaa", "aaab")
      val docs = corpusWords.zipWithIndex
        .map { case (w, i) => (i.toLong, (w + " ") * (1 + rng.nextInt(3))) }
        .toDF("doc_id", "text")
      val words = BpeInduction.wordTable(docs, 1000)
      val viaDriver = BpeInduction.mergesOnDriver(
        words.select("word", "freq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq, 4)
      var w = words
      val viaExpr = (1 to 4).map { r =>
        val (best, merged) = expressionRound(w, r)
        w = graft.functions.Materialize(merged)
        val b = best.collect()(0)
        (b.getInt(0), b.getString(1), b.getString(2), b.getString(3), b.getLong(4))
      }
      assert(viaDriver == viaExpr, s"trial $trial: $viaDriver vs $viaExpr")
    }
  }

  test("q188: per-lang fertility reconciles with q165's per-doc piece counts") {
    val d = sf("sf0.01")
    val fert = BpeInduction.fertilityByLang(spark, d).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      val (nw, np, bp) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
        r.getAs[Long]("fertility_bp"))
      assert(np >= nw, s"every word is at least one piece: $r")
      assert(bp == np * 10000 / nw, s"fertility must be the exact ratio: $r")
    }
    // conservation: the same tokenizer counted two ways
    val totalByLang = fert.map(_.getAs[Long]("n_pieces")).sum
    val totalByDoc = BpeInduction.tokenCounts(spark, d).collect()
      .map(_.getAs[Long]("n_bpe_tokens")).sum
    assert(totalByLang == totalByDoc,
      s"lang-sum $totalByLang must equal doc-sum $totalByDoc")
  }
}
