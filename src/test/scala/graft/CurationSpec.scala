package graft

import org.apache.spark.sql.functions._
import graft.analytics.{Dedup, Sampling, TextStats}

/** Corpus-curation operators: semantic dedup (q154), per-domain caps
  * (q155), collocation PMI (q156). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("q154: planted semantic duplicates cluster with and lose to their original") {
    val rows = Dedup.semanticDedup(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = rows.map(t => t._1 -> t).toMap
    val originals = rows.filter(_._1 < 100)
    assert(originals.nonEmpty, "planted originals must appear in the cluster map")
    originals.foreach { case (id, canon, keep) =>
      assert(canon == id && keep, s"original $id must be its own kept canonical")
      val plant = byId(id + 1000000L)
      assert(plant._2 == id && !plant._3, s"plant of $id must be dropped toward it: $plant")
    }
    // isotropic corpus: no organic cluster — output is exactly the plants
    assert(rows.length == 2 * originals.length, s"unexpected organic pairs: ${rows.length}")
  }

  test("q154 kernel: transitive semantic group keeps exactly one representative") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.04, 0.0, 0.0)),  // ~cos 0.999 with 1
      (3L, Seq(0.996, 0.08, 0.0, 0.0)),  // ~cos 0.999 with 2, 0.996 with 1
      (4L, Seq(0.0, 0.0, 1.0, 0.0))      // unrelated
    ).toDF("vec_id", "v")
    val out = Dedup.semanticDedupOn(vecs, numCentroids = 1, tau = 0.998)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    // 1-2 and 2-3 are edges, 1-3 only transitively: one cluster {1,2,3}, keep 1
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)), out.toSeq)
  }

  test("q155: cap holds per source, ranks are 1..cap, selection is hash-deterministic") {
    val out = Sampling.domainCap(spark, sf("sf0.01"), cap = 15)
    val per = out.groupBy($"source").agg(count(lit(1)).as("n"), max($"rk").as("mx"),
      min($"rk").as("mn")).collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      assert(r.getAs[Long]("n") <= 15 && r.getAs[Int]("mn") == 1,
        s"per-source cap violated: $r")
      assert(r.getAs[Int]("mx") == r.getAs[Long]("n"), s"ranks must be dense: $r")
    }
    // deterministic under re-run
    val again = Sampling.domainCap(spark, sf("sf0.01"), cap = 15)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("q155 plan: rank bound is pushed below the sort (WindowGroupLimit)") {
    val p = Sampling.domainCap(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "cap must prune per-partition before the shuffle:\n" + p)
  }

  test("q156: PMI ranks an engineered collocation first on a hand corpus") {
    // "new york" always together; "the" everywhere — PMI must rank the
    // rare-but-exclusive pair above the frequent-but-independent one
    val docs = (0 until 40).map { i =>
      val filler = s"w$i the a b c the d e"
      (i.toLong, if (i % 2 == 0) s"new york $filler" else s"$filler the x y")
    }.toDF("doc_id", "text")
    docs.createOrReplaceTempView("pmi_docs")
    val out = TextStats.collocationPmi(
        spark, sf("sf0.001"), minCount = 5, k = 5) // smoke the table path
    assert(out.columns.toSeq == Seq("w1", "w2", "c_ab", "pmi", "rk"))
    // kernel check on the hand corpus via the same column pipeline
    val toks = docs.select(explode(TextStats.tokens($"text")).as("w"))
    val uni = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val ny = uni.filter($"w" === "new").select($"c").as[Long].head()
    assert(ny == 20L, "harness sanity")
  }

  test("q157: deflate ratio separates repetitive from high-entropy text; gates hold") {
    import graft.functions.Compress.deflateRatio
    val docs = Seq(
      (1L, "spam " * 400),                                   // hyper-repetitive
      (2L, (1 to 400).map(i => s"tok${i * 2654435761L}").mkString(" ")), // high entropy
      (3L, "")                                               // empty guard
    ).toDF("doc_id", "text")
    val r = docs.select($"doc_id", deflateRatio($"text").as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < 0.05, s"repeated text must crush: ${r(1L)}")
    assert(r(2L) > 0.2, s"high-entropy text must resist: ${r(2L)}")
    assert(r(1L) < r(2L) / 4, "signal must be discriminative")
    assert(r(3L) == 1.0, "empty text is defined as 1.0")
    // interpreted eval (a literal input is constant-folded at planning, no
    // codegen) matches the codegen'd dataframe path bit-for-bit
    val interpreted = spark.range(1).select(deflateRatio(lit("spam " * 400)))
      .head().getDouble(0)
    assert(interpreted == r(1L), s"eval/codegen divergence: $interpreted vs ${r(1L)}")
    Seq("sf0.001", "sf0.01").foreach { s =>
      val bad = TextStats.compressibility(spark, sf(s))
        .filter(!$"ratio_ok" || !$"double_ok")
      assert(bad.isEmpty, s"$s: ${bad.collect().mkString(",")}")
    }
  }

  test("q158: deciles are balanced, quality-monotone, positions dense and replayable") {
    val out = Sampling.curriculumOrder(spark, sf("sf0.01"))
    val rows = out.collect()
    val byDecile = rows.groupBy(_.getAs[Int]("decile"))
    assert(byDecile.keySet == (1 to 10).toSet)
    val sizes = byDecile.view.mapValues(_.length).values.toSet
    assert(sizes.max - sizes.min <= 1, s"NTILE must balance: $sizes")
    // quality never increases across decile boundaries
    val worstPerDecile = (1 to 10).map(d =>
      d -> byDecile(d).map(_.getAs[Double]("quality")).min).toMap
    val bestPerDecile = (1 to 10).map(d =>
      d -> byDecile(d).map(_.getAs[Double]("quality")).max).toMap
    (1 to 9).foreach(d => assert(worstPerDecile(d) >= bestPerDecile(d + 1),
      s"decile $d worst ${worstPerDecile(d)} < decile ${d + 1} best ${bestPerDecile(d + 1)}"))
    byDecile.foreach { case (d, rs) =>
      val ps = rs.map(_.getAs[Int]("pos_in_decile")).sorted
      assert(ps.toSeq == (1 to rs.length).toSeq, s"decile $d positions not dense")
    }
    val again = Sampling.curriculumOrder(spark, sf("sf0.01"))
    assert(out.exceptAll(again).isEmpty, "ordering must be replayable")
  }

  test("q159: sketch deciles track exact NTILE; plan has no global sort") {
    val exact = Sampling.curriculumOrder(spark, sf("sf0.01"))
      .select(col("doc_id"), col("decile").as("d_exact"))
    val approx = Sampling.curriculumOrderScalable(spark, sf("sf0.01"))
    val joined = approx.select(col("doc_id"), col("decile").as("d_sketch"))
      .join(exact, "doc_id").collect()
    assert(joined.length == 500)
    val off = joined.map(r =>
      math.abs(r.getAs[Int]("d_sketch") - r.getAs[Int]("d_exact")))
    assert(off.max <= 1, s"sketch decile must be within 1 of exact, worst ${off.max}")
    assert(off.count(_ == 0) >= (joined.length * 0.9).toInt,
      s"expected >=90% exact agreement, got ${off.count(_ == 0)}/${joined.length}")
    // the scale contract: no NTILE (global total-order window) anywhere;
    // the only windows partition by decile; codebook/bounds side broadcast
    val plan = approx.queryExecution.executedPlan.toString
    // "ntile(10)" is the window function token; a bare "ntile" substring
    // would false-positive on graft_quaNTILE_sketch itself
    assert(!plan.toLowerCase.contains("ntile(10)"), "scalable variant must not ntile")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "bounds row must broadcast")
    val gate = Sampling.curriculumSketchGate(spark, sf("sf0.01")).collect()
    assert(gate.map(_.getAs[Int]("decile")).sorted.toSeq == (1 to 10))
    assert(gate.forall(_.getAs[Boolean]("share_ok")), "decile shares out of bound")
    assert(gate.forall(_.getAs[Boolean]("monotone_ok")), "decile layering broken")
  }

  test("q156: oracle-shape determinism — rounded PMI with (w1,w2) tie-break") {
    val out = TextStats.collocationPmi(spark, sf("sf0.01")).collect()
    val rks = out.map(_.getAs[Int]("rk")).sorted
    assert(rks.toSeq == (1 to rks.length).toSeq, "dense ranks")
    // descending on the rounded score
    val byRk = out.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("pmi"))
    assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b }, byRk.toSeq.toString)
  }

  test("q175 decision table: full coverage, and keep_final reproduces q73 exactly") {
    val d = sf("sf0.01")
    val dec = Sampling.curationDecision(spark, d).collect()
    assert(dec.length == Tables.documents(spark, d).count(),
      "every document gets a decision row")
    dec.foreach { r =>
      val conj = r.getAs[Boolean]("in_train") && r.getAs[Boolean]("gopher_ok") &&
        r.getAs[Boolean]("dedup_keep") && r.getAs[Boolean]("decontaminated")
      assert(r.getAs[Boolean]("keep_final") == conj,
        s"verdict must be the conjunction of its reasons: $r")
    }
    val kept = dec.filter(_.getAs[Boolean]("keep_final")).map(_.getLong(0)).toSet
    val clean = Sampling.cleanCorpus(spark, d)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == clean,
      s"decision view and pipeline output diverge: ${kept.size} vs ${clean.size}")
  }

  test("q181: α=0.5 rates up-weight small domains, realized keeps track the rate") {
    val out = Sampling.temperatureMixture(spark, sf("sf0.01")).collect()
    val byDomain = out.groupBy(_.getAs[String]("domain"))
    val rates = byDomain.view.mapValues(_.head.getAs[Long]("r_bp")).toMap
    val big = byDomain.maxBy(_._2.length)._1
    assert(byDomain(big).length > 2 * byDomain.filterKeys(_ != big).values.map(_.length).max)
    // every small domain's keep rate strictly exceeds the big domain's
    rates.filterKeys(_ != big).values.foreach(r => assert(r > rates(big)))
    // α=0.5 in integer form: r ∝ ⌊√n⌋/n, checked exactly per domain
    val sw = byDomain.values.map(rows => math.sqrt(rows.length).toLong).sum
    val total = out.length.toLong
    byDomain.foreach { case (dom, rows) =>
      val n = rows.length.toLong
      val want = math.min(10000L, (total / 2) * math.sqrt(n.toDouble).toLong * 10000 / (sw * n))
      assert(rates(dom) == want, s"$dom: rate ${rates(dom)} != $want")
    }
    // realized keeps track the rates where the law of large numbers has
    // teeth: the big domain (n=275, σ≈2.6pp), not the 25-doc strata
    val bigFrac = byDomain(big).count(_.getAs[Boolean]("keep")).toDouble /
      byDomain(big).length
    assert(math.abs(bigFrac - rates(big) / 10000.0) < 0.10,
      s"$big realized $bigFrac vs target ${rates(big)}bp")
    byDomain.foreach { case (dom, rows) =>
      assert(rows.exists(_.getAs[Boolean]("keep")), s"$dom kept nothing")
    }
  }

  test("q184 funnel: stages monotone, stage 4 ≡ q73's clean corpus, final ≡ mixture keeps") {
    val d = sf("sf0.01")
    val r = Sampling.pipelineFunnel(spark, d).collect()(0)
    val docs = Seq("docs_raw", "docs_train", "docs_quality", "docs_dedup",
      "docs_decontam", "docs_final").map(r.getAs[Long])
    val toks = Seq("tokens_raw", "tokens_train", "tokens_quality", "tokens_dedup",
      "tokens_decontam", "tokens_final").map(r.getAs[Long])
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b }, s"docs not monotone: $docs")
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b }, s"tokens not monotone: $toks")
    assert(docs.head == Tables.documents(spark, d).count())
    assert(r.getAs[Long]("docs_decontam") == Sampling.cleanCorpus(spark, d).count(),
      "stage 4 of the funnel IS the q73 clean corpus")
    val clean = Sampling.cleanCorpus(spark, d).select(col("doc_id"))
    val mixKeeps = Sampling.temperatureMixture(spark, d)
      .filter(col("keep")).select(col("doc_id"))
    assert(r.getAs[Long]("docs_final") == clean.join(mixKeeps, "doc_id").count(),
      "final stage IS clean ∩ mixture-keeps")
  }

  test("q174: semantic contamination surfaces exactly the planted cross-split leaks") {
    val out = Sampling.semanticContamination(spark, sf("sf0.01")).collect()
    assert(out.length == 50, s"expected one leak per eval vector, got ${out.length}")
    out.foreach { r =>
      val (e, t, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(e < 50 && t == e + 1000000L && c == 1.0,
        s"unexpected audit row ($e, $t, $c): only planted leaks exist on this corpus")
    }
  }

  test("q186 shard manifest: totals reconcile, assignment is content-pure, " +
      "appends touch only the landing shard") {
    val d = sf("sf0.01")
    val docs = Tables.documents(spark, d)
    val m = Sampling.shardManifest(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("checksum"))).toMap
    assert(m.keySet.forall(s => s >= 0 && s < 16))
    assert(m.values.map(_._1).sum == docs.count(), "manifest must cover every document")
    // content-pure: recomputing over a reshuffled corpus is bit-identical
    val reshuffled = docs.repartition(13, col("doc_id"))
      .select(Sampling.shardOf(col("text"), 16).as("shard_id"),
        org.apache.spark.sql.functions.size(TextStats.tokens(col("text")))
          .cast("long").as("n_tokens"))
      .groupBy("shard_id").agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
      .toMap
    reshuffled.foreach { case (s, (nd, nt)) =>
      assert(m(s)._1 == nd && m(s)._2 == nt, s"shard $s drifted under repartition")
    }
    // append-stability: one new doc changes exactly one shard's row
    val extra = Seq((9000001L, "one brand new appended document", "en", "webz", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val mg = docs.unionByName(extra)
      .select(Sampling.shardOf(col("text"), 16).as("shard_id"),
        org.apache.spark.sql.functions.size(TextStats.tokens(col("text")))
          .cast("long").as("n_tokens"))
      .groupBy("shard_id").agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
      .toMap
    val changed = mg.filter { case (s, v) => m.get(s).map(x => (x._1, x._2)) != Some(v) }
    assert(changed.size == 1, s"append must touch exactly one shard, touched ${changed.keys}")
    assert(changed.head._2._1 == m(changed.head._1)._1 + 1)
  }

  test("q189 shard write: layout round-trips the manifest; single-shard reads prune") {
    val d = sf("sf0.01")
    val fromLayout = Sampling.shardedWriteGate(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("checksum"))).toMap
    val fromSource = Sampling.shardManifest(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("checksum"))).toMap
    assert(fromLayout == fromSource, "the written layout must preserve every shard bit-for-bit")
    // a single-shard read prunes to one partition directory
    val one = spark.table("graft_shards").filter(col("shard_id") === 3L)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard_id"),
      "shard filter must reach the scan as a partition filter:\n" + scan)
    assert(one.count() == fromSource(3L)._1)
  }

  test("q190 manifest diff: totals reconcile; count-divergent shards flag changed") {
    val d = sf("sf0.01")
    val docs = Tables.documents(spark, d)
    val out = Sampling.manifestDiff(spark, d).collect()
    assert(out.map(_.getAs[Long]("docs_v1")).sum == docs.count())
    val expectedV2 = docs.filter(col("doc_id") % 13 =!= 0).count() +
      docs.filter(Sampling.contentBucket(col("text")) < 2).count()
    assert(out.map(_.getAs[Long]("docs_v2")).sum == expectedV2,
      "v2 totals must reproduce the planted edit/drop/append arithmetic")
    out.foreach { r =>
      if (r.getAs[Long]("docs_v1") != r.getAs[Long]("docs_v2"))
        assert(!r.getAs[Boolean]("unchanged"),
          s"a shard with different doc counts cannot be unchanged: $r")
    }
    // identity property: a manifest diffed against itself is all-unchanged
    val m = Sampling.manifestRaw(docs.select(col("doc_id"), col("text")), 16)
      .select(col("shard_id"), col("checksum").as("s1"))
    val self = m.select(col("shard_id"), col("s1").as("s2")).join(m, "shard_id")
      .filter(!(col("s1") <=> col("s2")))
    assert(self.isEmpty)
  }

  test("q191 source leakage: canonical cells, totals reconcile with the pair graph") {
    val d = sf("sf0.01")
    val out = Dedup.sourceLeakage(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("src_1") <= r.getAs[String]("src_2"),
        s"matrix cell must be canonicalized: $r")
      val aj = r.getAs[Double]("avg_jaccard")
      assert(aj >= 0.6 && aj <= 1.0, s"mean similarity out of range: $r")
    }
    assert(out.map(_.getAs[Long]("n_pairs")).sum == Dedup.nearDupPairs(spark, d).count(),
      "every near-dup pair lands in exactly one cell")
  }

  test("q192 epoch order: per-cell ranks dense, epochs decorrelated, replayable") {
    val d = sf("sf0.01")
    val out = Sampling.epochOrder(spark, d).collect()
    val byCell = out.groupBy(r => (r.getAs[Int]("epoch"), r.getAs[Long]("shard_id")))
    byCell.foreach { case (cell, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rs.length).toSeq,
        s"ranks must be dense in $cell")
    }
    // different epochs must give a different head order somewhere
    val heads = (1 to 2).map { e =>
      out.filter(_.getAs[Int]("epoch") == e)
        .sortBy(r => (r.getAs[Long]("shard_id"), r.getAs[Int]("rk")))
        .map(_.getAs[Long]("doc_id")).toSeq
    }
    assert(heads(0) != heads(1), "epoch salt must permute the order")
    // pure function of (epoch, content): replayable
    val again = Sampling.epochOrder(spark, d).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("q193 packing efficiency: reconciles with q62's packing; fill is the exact ratio") {
    val d = sf("sf0.01")
    val packs = Sampling.tokenPacking(spark, d).collect()
    val eff = Sampling.packingEfficiency(spark, d).collect()
    val byBucket = packs.groupBy(_.getAs[Int]("bucket"))
    assert(eff.length == byBucket.size)
    eff.foreach { r =>
      val g = byBucket(r.getAs[Int]("bucket"))
      val nSeqs = g.map(_.getAs[Long]("seq_id")).distinct.length.toLong
      val total = g.map(_.getAs[Long]("n_tok")).sum
      assert(r.getAs[Long]("n_seqs") == nSeqs)
      assert(r.getAs[Long]("total_tokens") == total)
      assert(r.getAs[Long]("capacity") == nSeqs * 2048)
      assert(r.getAs[Long]("fill_bp") == total * 10000 / (nSeqs * 2048))
    }
  }

  test("q194 source profile: totals reconcile; rates reproduce the underlying gates") {
    val d = sf("sf0.01")
    val out = Sampling.sourceProfile(spark, d).collect()
    val docs = Tables.documents(spark, d)
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val gopherBySource = TextStats.gopherFilter(spark, d)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(
        sum(when(col("pass"), 1L).otherwise(0L)).as("nq"), count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("nq"), r.getAs[Long]("n")))).toMap
    out.foreach { r =>
      val (nq, n) = gopherBySource(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("quality_bp") == nq * 10000 / n,
        s"quality rate must be the exact gate ratio: $r")
      val dup = r.getAs[Long]("dup_bp")
      assert(dup >= 0 && dup < 10000, s"dup rate out of range: $r")
    }
  }

  test("q195 agreement matrix: exact self-overlaps fully, containment is exact's subset") {
    val d = sf("sf0.01")
    val out = Sampling.contaminationAgreement(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_flagged"),
        r.getAs[Long]("overlap_exact")))).toMap
    assert(out.keySet == Set("exact_5gram", "containment_0_5", "neardup_straddle"))
    val (ne, oe) = out("exact_5gram")
    assert(ne > 0 && oe == ne, "the reference method overlaps itself fully")
    val (nc, oc) = out("containment_0_5")
    assert(oc == nc, "containment >= 0.5 implies >= 1 shared gram, i.e. subset of exact")
    out.values.foreach { case (n, o) => assert(o <= n) }
  }

  test("q187 calibration: bins partition the corpus; rates reproduce the raw scores") {
    val d = sf("sf0.01")
    val cal = graft.analytics.QualityProbe.calibration(spark, d).collect()
    assert(cal.map(_.getAs[Long]("bin")).forall(b => b >= 0 && b <= 9))
    assert(cal.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, d).count())
    val scores = graft.analytics.QualityProbe.trainedScores(spark, d).collect()
    val byBin = scores.groupBy { r =>
      math.min(9L, math.max(0L, r.getAs[Long]("score_micro") * 10 / 1000000L))
    }
    cal.foreach { r =>
      val g = byBin(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n_docs") == g.length)
      val pos = g.count(_.getAs[Long]("label") == 1000000L)
      assert(r.getAs[Long]("n_pos") == pos)
      assert(r.getAs[Long]("pos_rate_bp") == pos.toLong * 10000 / g.length)
    }
  }
}
