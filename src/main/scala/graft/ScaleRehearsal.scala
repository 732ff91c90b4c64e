package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{Dedup, Sampling, Similarity, TextStats}

/** Scale rehearsal for the dedup/ANN family: grow the corpus 1×/2×/5×/10×
  * with KNOWN structure, measure runtime and candidate-pair counts, and
  * record whether candidate growth tracks the corpus (linear) or the pair
  * space (quadratic). This is the measured evidence behind SCALING.md's
  * subquadratic claims, which plan-shape tests alone can't give.
  *
  * Corpus construction — deterministic, content-derived, no RNG:
  *  - copy 0 is the source corpus itself;
  *  - copy j (1 ≤ j < scale) of doc i gets doc_id + j·10⁷ and:
  *     · if contentBucket(text) ∈ [2(j−1), 2j): a PLANTED NEAR-DUP — the
  *       original text plus one trailing token (word-trigram Jaccard
  *       n/(n+1) ≈ 0.99). Each copy perturbs a DIFFERENT 2% slice, so every
  *       planted pair is (original, that copy) alone — no cross-copy
  *       cliques — and the true-pair count grows LINEARLY with scale;
  *     · otherwise: every token prefixed with the copy tag ("c3the c3cat"),
  *       making its shingle set disjoint from the original and from every
  *       other copy — grows the corpus without growing true pairs.
  *  - embeddings: copy j is the base vector rotated left by j slots — for
  *    isotropic vectors a rotation is another isotropic vector (no new near
  *    neighbors); queries stay the original vec_id < 10.
  *
  * Timing: min over SPARK_GRAFT_SCALE_RUNS (default 2) attempts — for
  * growth curves the best case is the right statistic, since host
  * contention only ever inflates. A per-scale calibration probe (same
  * workload as graft.Bench's) is recorded so a contended measurement is
  * self-evident in the artifact.
  *
  * Output: one JSON line per scale on stdout, and the full series written
  * to SCALING_REHEARSAL.json.
  */
object ScaleRehearsal {

  private val CopyIdStride = 10000000L

  private[graft] def scaledDocs(spark: SparkSession, sfDir: String, scale: Int): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    (1 until scale).foldLeft(base) { (acc, j) =>
      val bucket = Sampling.contentBucket(col("text"))
      val copy = Tables.documents(spark, sfDir).select(
        (col("doc_id") + lit(j * CopyIdStride)).as("doc_id"),
        when(bucket >= lit(2 * (j - 1)) && bucket < lit(2 * j),
            concat(col("text"), lit(s" zzdup$j")))
          .otherwise(regexp_replace(col("text"), "(\\S+)", s"c$j$$1")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      acc.unionByName(copy)
    }
  }

  private[graft] def scaledEmbeddings(spark: SparkSession, sfDir: String, scale: Int): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    (1 until scale).foldLeft(base) { (acc, j) =>
      val copy = Tables.embeddings(spark, sfDir).select(
        (col("vec_id") + lit(j * CopyIdStride)).as("vec_id"),
        expr(s"concat(slice(embedding, ${j + 1}, size(embedding) - $j), " +
          s"slice(embedding, 1, $j))").as("embedding"),
        col("label"))
      acc.unionByName(copy)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt.max(1)
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,2,5,10")
      .split(",").map(_.trim.toInt).toSeq
    val outBase = "target/scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // growth measurements must be COLD: the default-ON SessionMemo would
    // hand every repeat (and every dependent operator) the materialized
    // result, turning the 1x-20x curves into cache-scan noise
    val spark = LocalSession(cpus,
      Seq(LocalSession.NanosAsLong, "spark.graft.pairgraph.cache" -> "false"))
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT/codegen warmup

    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(1000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // best-of-runs timing (see scaladoc); returns (seconds, last result)
    def time(body: => Long): (Double, Long) = {
      var best = Double.MaxValue
      var out = 0L
      (1 to runs).foreach { _ =>
        val t0 = System.nanoTime()
        out = body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (math.rint(best * 1e4) / 1e4, out)
    }

    val lines = scales.map { s =>
      val dir = s"$outBase/x$s"
      // same writer layout at every scale: one cluster, more data
      scaledDocs(spark, sfDir, s).repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      scaledEmbeddings(spark, sfDir, s).repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val probeSec = probe()

      val (tExact, _)    = time(Dedup.exact(spark, dir).count())
      val (tJac, nPairs) = time(Dedup.jaccardNearDup(spark, dir).count())
      val (_, nJacCand)  = time(Dedup.jaccardCandidates(spark, dir).count())
      val (tMh, _)       = time(Dedup.minhashLsh(spark, dir).count())
      val (_, nMhCand)   = time(Dedup.minhashCandidates(spark, dir).count())
      val (tSh, _)       = time(Dedup.simhashNearDup(spark, dir).count())
      val (_, nShCand)   = time(Dedup.simhashCandidates(spark, dir).count())
      val (tSh2, _)      = time(Dedup.simhash128NearDup(spark, dir).count())
      val (_, nSh2Cand)  = time(Dedup.simhash128Candidates(spark, dir).count())
      val (tCc, _)       = time(Dedup.dedupCorpus(spark, dir).count())
      val (tIvf, _)      = time(Similarity.ivfTopK(spark, dir).count())
      // corpus-filter family — the two operators with corpus-WIDE aggregates
      // (q68: trigram document-frequency table + broadcast-back; q69: n-gram
      // equi-join between splits). Their cost must track the corpus, not the
      // pair space: the df table is O(shingle vocabulary) and the join is
      // bounded by true collisions, so sec should grow ~linearly with scale.
      val (tBoiler, _)         = time(TextStats.boilerplateNgrams(spark, dir).count())
      val (tDecon, nDeconPairs) = time(Sampling.decontamination(spark, dir).count())
      // round-4 operators with corpus-wide state: q79's chunk table is
      // O(corpus tokens), q83's CMS is fixed-size with an O(vocabulary)
      // verify join, q95's blocked candidates must track near-pair density
      val (tSpan, _)            = time(analytics.Dedup.spanDedup(spark, dir).count())
      val (tCms, _)             = time(TextStats.heavyHitters(spark, dir).count())
      // q104 (round 5): per-term state is a bounded min-k buffer, so cost
      // must track the corpus token volume — a hot-term straggler would
      // show up here as superlinear wall-clock growth
      val (tIdx, _)             = time(TextStats.invertedIndex(spark, dir).count())
      val (tFuzzy, _)           = time(analytics.Relational.fuzzyNearDup(spark, dir).count())
      val (_, nFuzzyCand)       = time(analytics.Relational.fuzzyCandidates(spark, dir).count())
      // round-4 second-half operators: the ensemble CC runs over the UNION
      // of the Jaccard and fuzzy edge sets (cost must track edges + corpus),
      // and the triangle pass runs on the near-dup pair graph itself —
      // planted copies only ever pair with their original, so triangle
      // growth exposes any accidental clique blow-up in the corpus builder
      val (tEns, _) = time(Dedup.ensembleDedup(spark, dir).count())
      val (tTri, nTriangles) = {
        val edges = Dedup.jaccardNearDup(spark, dir)
          .select(col("doc_a").as("pa"), col("doc_b").as("pb"))
        var best = Double.MaxValue
        var tri = 0L
        (1 to runs).foreach { _ =>
          val t0 = System.nanoTime()
          tri = analytics.Graph.triangleStatsOn(edges)
            .select(col("n_triangles")).collect()(0).getLong(0)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (math.rint(best * 1e4) / 1e4, tri)
      }
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val (_, nIvfCand) = time(Similarity.ivfCandidatesOn(e,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv")),
        numCentroids = 16, nprobe = 4).count())

      // q148 K-knob evidence: same-cell candidate pairs Σ n_c(n_c−1)/2 under
      // a FIXED K=16 quantizer vs K scaled to hold cell size ≈ 64 — fixed K
      // must grow ~quadratically with the corpus, scaled K ~linearly; this
      // is the measured form of the docstring's "K is the scale knob"
      def cellCand(k: Int): Long = {
        val init = e.orderBy(col("vec_id")).limit(k)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        Similarity.assignCellsOn(e, init)
          .groupBy(col("cid")).agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
      }
      val nVecs = e.count()
      val ivfNdFixedCand  = cellCand(16)
      val ivfNdScaledCand = cellCand(math.max(16, (nVecs / 64).toInt))

      // round-7 operators. q154 semantic dedup runs with K scaled to hold
      // cell size ≈64 (the q148 knob) — its candidate space IS the
      // ivf_neardup_cand.scaled series above, so sec must track that, not
      // n². q155 ships ≤cap rows per (domain, map task) through the
      // shuffle (WindowGroupLimit), q157 is a single-scan codegen kernel,
      // q152's KMV is a fixed-k mergeable agg, and q159's curriculum has
      // no global sort — all four should grow ~linearly in wall-clock.
      val (tSem, _) = time(Dedup.semanticDedupOn(e,
        numCentroids = math.max(16, (nVecs / 64).toInt), tau = 0.95).count())
      val (tCap, _) = time(Sampling.domainCap(spark, dir).count())
      val (tComp, _) = time(TextStats.compressibility(spark, dir).count())
      val (tKmv, _) = time(
        spark.read.parquet(s"$dir/documents.parquet")
          .agg(graft.functions.KmvSketch.kmvEstimate(
            graft.functions.KmvSketch.kmvSketch(xxhash64(col("text"))))
            .cast("long").as("est"))
          .collect()(0).getLong(0))
      val (tCur, _) = time(Sampling.curriculumOrderScalable(spark, dir).count())
      // BPE tokenize cost must track the VOCABULARY (distinct words grow
      // linearly with the token-prefixed copies), never the corpus re-read
      val (tBpe, _) = time(analytics.BpeInduction.tokenCounts(spark, dir).count())
      // round-8: q169 surprisal is a frequency-table build + join-back
      // (the q58 TF-IDF shape) — cost must track corpus token volume, and
      // its per-doc output row count must track n_docs exactly
      val (tSurp, _) = time(TextStats.surprisalScore(spark, dir).count())
      // q170 soft weights ride the CC cluster map (cold here — the memo is
      // off in this session) plus one O(clusters) aggregate: growth must
      // track the q37_cc series, not the pair space
      val (tWts, _) = time(Dedup.dedupWeights(spark, dir).count())

      // round-8 retrieval family. q176 BM25's corpus-sized work is the
      // token scan + O(docs) length aggregate, so sec tracks the corpus;
      // its per-term work tracks MATCHED postings (reported below), which
      // grow only through the 2% near-dup slices — copy tokens are
      // prefixed out of the query vocabulary. q178 MMR is bounded past
      // the top-n candidate cut (O(queries·n²) constant), so its wall
      // must stay ~flat apart from the candidate-scan leg. q181 is one
      // O(domains) aggregate + a narrow corpus map.
      val (tBm25, _) = time(TextStats.bm25TopK(spark, dir).count())
      val qvocab = TextStats.RetrievalQueries.flatMap(_._2.split(" ")).distinct
      val (_, nMatchedPost) = time(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(explode(TextStats.tokens(col("text"))).as("term"))
          .filter(col("term").isin(qvocab: _*)).count())
      val (tRrf, _) = time(TextStats.hybridRrf(spark, dir).count())
      val (tMmr, _) = time(TextStats.mmrRerank(spark, dir).count())
      val (tTemp, _) = time(Sampling.temperatureMixture(spark, dir).count())

      // round-8 fourth leg. q186's manifest is one scan + an nShards-group
      // aggregate: wall must track the token scan, never the shard count.
      // q187 re-trains the probe cold here (memo off): 8 fixed full-batch
      // GD passes, so growth must be ~linear — the iteration count is a
      // constant, never a function of data size. q188 rides the q165
      // word-piece table (vocabulary-bound) plus one lang-keyed aggregate.
      val (tMan, _)  = time(Sampling.shardManifest(spark, dir).count())
      val (tCal, _)  = time(analytics.QualityProbe.calibration(spark, dir).count())
      val (tFert, _) = time(analytics.BpeInduction.fertilityByLang(spark, dir).count())

      // round-8 seventh leg. q203 chunking is a zero-shuffle per-row
      // generator: wall AND chunk count must both track corpus tokens
      // linearly (the ×size/stride amplification is a constant factor).
      // q198's salted cumsum replaces the per-source window with 256×
      // finer (source, hex-prefix) partitions — the max-window evidence
      // below is the measured form of that de-skew: the largest window
      // task under plain per-source partitioning vs under the salt.
      val (tChunk, nChunks) = time(analytics.Chunking.chunkTable(spark, dir).count())
      val (tWf, _) = time(Sampling.waterfillApply(spark, dir).count())

      // round-9 operators. q219 exact Brandes runs EVERY node as a pivot,
      // but the planted motif graph keeps components at 5 nodes — frontier
      // volume is 4·|V| per level, so wall must grow ~linearly with the
      // corpus (the copies' ids are dense per cohort, so their groups are
      // complete and join the graph). q220's candidate stage is a
      // projected-cosine scan over the corpus for a FIXED query set —
      // linear by construction; the re-rank touches candMult·k ids only.
      val (tBetwEx, _) = time(analytics.Graph.betweennessExact(spark, dir).count())
      val (tRp, _) = time(analytics.Similarity.rpTopK(spark, dir).count())
      // round-10 q222: exact substring spans. The near-dup copies repeat
      // the original's windows verbatim and the token-prefixed copies
      // carry their own (tagged) repeats of base-internal runs, so the
      // collided-window count — the only rows whose TEXT shuffles — must
      // grow linearly with the corpus, never with the window-pair space.
      val (tSubstr, _) = time(Dedup.exactSubstringSpans(spark, dir).count())
      val (_, nSubstrCand) = time(Dedup.exactSubstringCandidates(spark, dir).count())
      // round-10 q223: fixed 3-round Lloyd refresh — per round one
      // broadcast-assignment scan (O(n·k·d) narrow compute) plus one
      // (cid, dim) aggregate, so wall must track the corpus linearly;
      // the round count is a constant, never a function of data size
      val (tLloyd, _) = time(analytics.Similarity.lloydRefine(spark, dir).count())
      // round-10 q224: graph ANN. K scales to hold cell size ≈ 64 (the
      // q148 knob — a fixed-K cell init is quadratic per cell by
      // construction), so the NN-Descent candidate volume must grow
      // ~linearly (N·(2k)² for fixed degree k), and the beam-search serve
      // cost is hops·|Q|·beam·degree — corpus-independent beyond the
      // build's own scans.
      val kGraphCents = math.max(16, (nVecs / 64).toInt)
      val (_, nDescCand) = time(analytics.AnnGraph.descentCandidatesOn(
        e, 8, kGraphCents).count())
      val (tGraphAnn, _) = time(analytics.AnnGraph.graphTopKOn(e,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv")),
        k = 5, numCentroids = kGraphCents).count())
      val wfd = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), substring(md5(col("text").cast("binary")), 1, 2).as("p"))
      val maxSourceWindow = wfd.groupBy(col("source")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).collect()(0).getLong(0)
      val maxSaltedWindow = wfd.groupBy(col("source"), col("p")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).collect()(0).getLong(0)

      // round-8 eighth leg: DELETE must stay O(batch) as the corpus grows.
      // The lex index is rebuilt at each scale (one-time layout cost, grows
      // with the corpus); the deletion batch is FIXED — base docs with
      // content bucket < 2, identical at every scale because copies carry
      // rewritten text — so t_delete's curve isolates the request path:
      // one tombstone-log append + the healStats reconciliation (a slim
      // dl-table scan; flat-to-linear in the corpus, never in the pair
      // space). Single-shot timings (a best-of would time the no-op
      // replay); t_serve_mor is BM25 with the deletions pending.
      val docsScaled = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      def once(body: => Unit): Double = {
        val t0 = System.nanoTime()
        body
        math.rint((System.nanoTime() - t0) / 1e5) / 1e4
      }
      val tLexBuild = once(analytics.LexIndex.build(docsScaled, "reh_lex", buckets = 8))
      val delBatch = docsScaled
        .filter(col("doc_id") < CopyIdStride &&
          Sampling.contentBucket(col("text")) < 2)
        .select(col("doc_id"))
      val nDeleted = delBatch.count()
      val tDelete = once(analytics.LexIndex.delete(delBatch, "reh_lex"))
      val (tServeMor, _) =
        time(analytics.LexIndex.bm25Against(spark, "reh_lex").count())

      // round-10 graph index: the same delete-flatness claim for the
      // fourth persisted surface — a FIXED deletion batch (base vec_ids
      // < 100) against a per-scale rebuild, plus beam-search serve with
      // the deletions pending. t_delete is one tombstone append
      // (O(batch)); t_serve rides broadcast-frontier probes, so both must
      // stay flat while t_build tracks the corpus.
      val tGraphBuild = once(analytics.AnnGraphIndex.build(e, "reh_gidx",
        rounds = 1, numCentroids = kGraphCents))
      val gDelBatch = e.filter(col("vec_id") < 100).select(col("vec_id"))
      val tGraphDelete = once(analytics.AnnGraphIndex.delete(gDelBatch, "reh_gidx"))
      val (tGraphServe, _) = time(analytics.AnnGraphIndex.topKAgainst(
        spark, "reh_gidx",
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
          .select(col("vec_id").as("query_id"), col("v").as("qv")),
        k = 5).count())

      // round-11: MEASURED recall@10 for the graph tier under corpus
      // growth (round-10 VERDICT item 3) — beam/hops/nprobe are fixed
      // serve defaults whose adequacy is measured here, not assumed; the
      // brute-force reference excludes the pending-deleted batch exactly
      // as the merge-on-read serve does.
      val gQueries = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val gRetained = e.filter(col("vec_id") >= 100)
      val brute10 = gRetained.crossJoin(broadcast(gQueries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.VectorOps.cosine(col("qv"), col("v")).as("sim"))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      def recallAt10(beam: Int, nprobe: Int): Double = {
        val got = analytics.AnnGraphIndex.topKAgainst(spark, "reh_gidx",
          gQueries, k = 10, beam = beam, nprobe = nprobe)
          .select(col("query_id"), col("neighbor_id"))
        math.rint(got.join(brute10, Seq("query_id", "neighbor_id")).count()
          * 10000.0 / (10 * 10)) / 10000.0
      }
      val recall10 = recallAt10(beam = 32, nprobe = 2) // the narrow point
      // the knob curve: wider beam + more entry cells buy recall with
      // serve cost linear in beam — the lever SCALING.md documents
      val recall10Wide = recallAt10(beam = 64, nprobe = 4)
      // round-12: the DENSITY-ADAPTIVE default (round-11 VERDICT item 3) —
      // no manual knobs; the serve resolves its operating point from the
      // stored mean-kth-neighbor-sim diagnostic, so the sparse regime
      // (1×–2×) must reach the wide point's recall on its own
      val recall10Auto = {
        val got = analytics.AnnGraphIndex.topKAgainst(spark, "reh_gidx",
          gQueries, k = 10)
          .select(col("query_id"), col("neighbor_id"))
        math.rint(got.join(brute10, Seq("query_id", "neighbor_id")).count()
          * 10000.0 / (10 * 10)) / 10000.0
      }
      val gDensity = graft.sink.TableProps
        .get(spark, "reh_gidx_entries", "graft.density")
        .map(_.toDouble).getOrElse(-1.0)

      // round-13 VERDICT item 6: a MEASURED dense-regime row. Every
      // organic rehearsal scale stores density < 0.35 (isotropic
      // embeddings), so the narrow auto operating point had never fired in
      // a recorded run — only in the synthetic spec. Fixed-size dense
      // corpus (8 jittered near-copies of 250 base vectors — pairwise
      // cosine ≈ 1, so the stored mean-kth-neighbor diagnostic crosses the
      // boundary), scale-independent by construction: the row proves the
      // stored-props decision, not a growth curve.
      val denseBase = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") < 250)
      val denseVecs = (1 to 8).foldLeft(denseBase) { (acc, j) =>
        acc.unionByName(denseBase.select(
          (col("vec_id") + lit(j * 1000000L)).as("vec_id"),
          expr(s"transform(v, (x, i) -> x + if(i = 0, ${j}e-3, 0d))").as("v")))
      }
      val tDenseBuild = once(analytics.AnnGraphIndex.build(denseVecs,
        "reh_gidx_dense", rounds = 1, numCentroids = 8, buckets = 8))
      val denseDensity = graft.sink.TableProps
        .get(spark, "reh_gidx_dense_entries", "graft.density")
        .map(_.toDouble).getOrElse(-1.0)
      val denseExact = analytics.AnnGraphIndex.wouldServeExact(
        spark, "reh_gidx_dense")
      val denseQ = denseBase.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val denseBrute10 = denseVecs.crossJoin(broadcast(denseQ))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.VectorOps.cosine(col("qv"), col("v")).as("sim"))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      def denseServe(beam: Int, nprobe: Int): Set[(Long, Long)] =
        analytics.AnnGraphIndex.topKAgainst(spark, "reh_gidx_dense", denseQ,
            k = 10, beam = beam, nprobe = nprobe)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val denseAuto = analytics.AnnGraphIndex.topKAgainst(spark,
          "reh_gidx_dense", denseQ, k = 10)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val denseAutoIsNarrow = denseAuto == denseServe(32, 2)
      val denseRecallAuto = {
        val brute = denseBrute10.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        math.rint(denseAuto.count(brute) * 10000.0 / brute.size) / 10000.0
      }

      // round-11 cluster map (q228): the one-time CLUSTERED build tracks
      // the corpus (its pair graph + CC are the q25/q37 curves above);
      // the request path must not — extend merges a FIXED batch (verbatim
      // copies of base bucket-<2 docs under fresh ids, so every doc pairs
      // with its original) in O(batch edges) on top of the linear
      // index-side prefix scan, and delete+repair relabels only the
      // affected components of a FIXED deletion batch.
      // the grid is DERIVED at build (round-12 VERDICT item 2): a small
      // rows-per-slice target here makes the derivation actually vary
      // with scale in a measured run (the 4M production default derives
      // a single slice at rehearsal sizes), so the bands_probe row
      // below proves probe I/O stays O(batch keys) at a non-default grid
      spark.conf.set("spark.graft.dedup.rows.per.slice", "20000")
      // per-leg attribution for the BUILD too (round-13 VERDICT item 1:
      // 9.9 s at 20× → 41.1 s at 50×, 4.2× wall for 2.5× data — which leg?)
      graft.functions.PhaseTimer.arm()
      val tCluBuild =
        try once(analytics.DedupIndex.buildClustered(
          docsScaled, "reh_klx", buckets = 8))
        finally spark.conf.unset("spark.graft.dedup.rows.per.slice")
      val bldLegs = graft.functions.PhaseTimer.drain()
      val bldLegsJson = bldLegs.toSeq.sortBy(_._1).map { case (kk, v) =>
        s""""$kk":${math.rint(v * 1e4) / 1e4}""" }.mkString("{", ",", "}")
      val cluParts = graft.sink.Bucketed.partsOf(spark, "reh_klx_bands")
      val cluExtBatch = docsScaled
        .filter(col("doc_id") < CopyIdStride &&
          Sampling.contentBucket(col("text")) < 2)
        .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("text"))
      val nCluBatch = cluExtBatch.count()
      // per-leg attribution (round-12 VERDICT item 3): which extend leg
      // grows past 20×? Armed around the timed run only.
      graft.functions.PhaseTimer.arm()
      val tCluExtend = once(analytics.DedupIndex.extend(cluExtBatch, "reh_klx"))
      val cluLegs = graft.functions.PhaseTimer.drain()
      val cluLegsJson = cluLegs.toSeq.sortBy(_._1).map { case (kk, v) =>
        s""""$kk":${math.rint(v * 1e4) / 1e4}""" }.mkString("{", ",", "}")
      val nCluMerged = analytics.DedupIndex.clusterMap(spark, "reh_klx")
        .filter(col("doc_id") >= 900000000L && !col("is_canonical")).count()
      val cluDelBatch = docsScaled
        .filter(col("doc_id") < CopyIdStride &&
          Sampling.contentBucket(col("text")) >= 2 &&
          Sampling.contentBucket(col("text")) < 4)
        .select(col("doc_id"))
      val tCluDelete = once(analytics.DedupIndex.delete(cluDelBatch, "reh_klx"))
      val (tCluRead, _) =
        time(analytics.DedupIndex.clusterMap(spark, "reh_klx").count())

      // round-13 VERDICT item 2: the partitioned APPEND's driver-serial
      // per-partition commit renames are O(min(batch keys, parts)) —
      // documented but never measured above 200 parts. Ladder the SAME
      // fixed batch into band grids forced to 256/1024/4096 slices
      // (explicit parts — the derivation is not under test) and record the
      // extend wall, its bands-append leg, and the touched-slice count the
      // bound predicts. The claim under test is corpus-INDEPENDENCE of the
      // append path, so the ladder runs once, at the smallest scale.
      val hpAppendJson =
        if (s != scales.min) "[]"
        else Seq(256, 1024, 4096).map { p =>
          analytics.DedupIndex.build(docsScaled, "reh_hp", buckets = 8,
            parts = p)
          val touched = analytics.Dedup.bandsOf(cluExtBatch
              .select(col("doc_id"), analytics.Dedup.minhashSignature(
                TextStats.wordShingles(col("text"))).as("mhs")))
            .select(pmod(xxhash64(col("band"), col("band_key")),
              lit(p.toLong)).as("pb")).distinct().count()
          graft.functions.PhaseTimer.arm()
          val tExt = once(analytics.DedupIndex.extend(cluExtBatch, "reh_hp"))
          val legs = graft.functions.PhaseTimer.drain()
          val bandsLeg = math.rint(
            legs.getOrElse("ext.append.bands", 0.0) * 1e4) / 1e4
          s"""{"parts":$p,"touched":$touched,"extend":$tExt,""" +
            s""""append_bands":$bandsLeg}"""
        }.mkString("[", ",", "]")

      // round-12: partition-pruned probe I/O (round-11 VERDICT item 2) —
      // a SINGLE-doc probe against the persisted band table must read only
      // the partitions its ~16 band keys hash into, at EVERY corpus scale:
      // files_read is the scan's own metric (dynamic pruning already
      // applied), files_total the table's physical layout. A probe whose
      // I/O tracked the corpus would read ~files_total here.
      val (bandsFilesRead, bandsFilesTotal) = {
        val oneDoc = docsScaled.filter(col("doc_id") === 0L)
          .select((col("doc_id") + 777000000L).as("doc_id"), col("text"))
        val probe = analytics.DedupIndex.nearDupsAgainst(
          spark, "reh_klx", oneDoc, 0.5)
        // collect(), not count(): count() plans a SEPARATE QueryExecution,
        // leaving this frame's own plan (whose scan metrics we read)
        // unexecuted — its numFiles would read 0
        probe.collect()
        val helper = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}
        val read = helper.collectWithSubqueries(
            probe.queryExecution.executedPlan) {
            case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.toString.contains("reh_klx_bands") => s
          }.map(_.metrics("numFiles").value).sum
        val total = spark.table("reh_klx_bands")
          .select(col("_metadata.file_path")).distinct().count()
        (read, total)
      }

      // q95 skew-cap evidence: the largest single join group under the
      // char-prefix-only blocking key (round ≤4) vs the composite key in
      // use — (first-3-tokens, ⌊len/30⌋) since round 9 (token-prefix
      // block: fixed char windows lose selectivity to uniform decoration;
      // see Relational.fuzzyCandidates) — the composite cap is what
      // bounds the worst task when boilerplate prefixes collide
      val dd = spark.read.parquet(s"$dir/documents.parquet")
        .select(substring(col("text"), 1, 16).as("cblk"),
          concat_ws(" ", slice(TextStats.tokens(col("text")), 1, 3)).as("blk"),
          (length(col("text")) / 30).cast("int").as("lbk"))
      val maxPrefixBlock = dd.groupBy(col("cblk")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).collect()(0).getLong(0)
      val maxCompositeBlock = dd.groupBy(col("blk"), col("lbk"))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).collect()(0).getLong(0)

      // every planted pair is (original, copy) with copy ids ≥ stride;
      // expected = Σ_j |bucket ∈ [2(j−1), 2j)| over the base corpus
      val plantedFound = Dedup.jaccardNearDup(spark, dir)
        .filter(col("doc_b") >= CopyIdStride && col("doc_a") < CopyIdStride).count()
      val plantedExpected =
        if (s == 1) 0L
        else Tables.documents(spark, sfDir)
          .filter(Sampling.contentBucket(col("text")) < lit(2 * (s - 1))).count()

      val line =
        s"""{"scale":$s,"n_docs":$nDocs,"probe_sec":${math.rint(probeSec * 1e4) / 1e4},""" +
        s""""sec":{"q20_exact":$tExact,"q25_jaccard":$tJac,"q26_minhash":$tMh,""" +
        s""""q27_simhash":$tSh,"q63_simhash128":$tSh2,"q37_cc":$tCc,"q51_ivf":$tIvf,""" +
        s""""q68_boilerplate":$tBoiler,"q69_decontamination":$tDecon,""" +
        s""""q79_span_dedup":$tSpan,"q83_heavy_hitters":$tCms,"q95_fuzzy":$tFuzzy,""" +
        s""""q104_inverted_index":$tIdx,""" +
        s""""q122_ensemble":$tEns,"q130_triangles":$tTri,""" +
        s""""q152_kmv":$tKmv,"q154_semantic":$tSem,"q155_domain_cap":$tCap,""" +
        s""""q157_compressibility":$tComp,"q159_curriculum":$tCur,""" +
        s""""q165_bpe_tokenize":$tBpe,"q169_surprisal":$tSurp,"q170_dedup_weights":$tWts,""" +
        s""""q176_bm25":$tBm25,"q177_rrf":$tRrf,"q178_mmr":$tMmr,""" +
        s""""q181_temp_mixture":$tTemp,"q186_manifest":$tMan,""" +
        s""""q187_calibration":$tCal,"q188_fertility":$tFert,""" +
        s""""q198_waterfill":$tWf,"q203_chunking":$tChunk,""" +
        s""""q219_betweenness_exact":$tBetwEx,"q220_rp_topk":$tRp,""" +
        s""""q222_substring":$tSubstr,"q223_lloyd":$tLloyd,""" +
        s""""q224_graph_ann":$tGraphAnn},""" +
        s""""lex_delete":{"build":$tLexBuild,"delete":$tDelete,""" +
        s""""serve_mor":$tServeMor,"n_deleted":$nDeleted},""" +
        s""""graph_index":{"build":$tGraphBuild,"delete":$tGraphDelete,""" +
        s""""serve_mor":$tGraphServe,"recall10":$recall10,""" +
        s""""recall10_wide":$recall10Wide,"recall10_auto":$recall10Auto,""" +
        s""""density":$gDensity,""" +
        s""""knobs":{"beam":32,"hops":3,"nprobe":2,"k":8,"rounds":1,""" +
        s""""wide_beam":64,"wide_nprobe":4,""" +
        s""""sparse_density":${analytics.AnnGraphIndex.SparseDensity}}},""" +
        s""""graph_dense":{"build":$tDenseBuild,"density":$denseDensity,""" +
        s""""would_serve_exact":$denseExact,""" +
        s""""auto_is_narrow":$denseAutoIsNarrow,""" +
        s""""recall10_auto":$denseRecallAuto},""" +
        s""""cluster_index":{"build":$tCluBuild,"extend":$tCluExtend,""" +
        s""""build_legs":$bldLegsJson,"extend_legs":$cluLegsJson,""" +
        s""""delete_repair":$tCluDelete,"read":$tCluRead,""" +
        s""""n_ext_batch":$nCluBatch,"n_ext_merged":$nCluMerged,""" +
        s""""bands_probe":{"files_read":$bandsFilesRead,""" +
        s""""files_total":$bandsFilesTotal,"derived_parts":$cluParts},""" +
        s""""hp_append":$hpAppendJson},""" +
        s""""n_chunks":$nChunks,""" +
        s""""wf_max_window":{"source":$maxSourceWindow,"salted":$maxSaltedWindow},""" +
        s""""bm25_matched_postings":$nMatchedPost,""" +
        s""""candidates":{"jaccard":$nJacCand,"minhash":$nMhCand,"simhash":$nShCand,""" +
        s""""simhash128":$nSh2Cand,"ivf":$nIvfCand,"fuzzy":$nFuzzyCand,""" +
        s""""substring":$nSubstrCand,"graph_descent":$nDescCand},""" +
        s""""fuzzy_max_block":{"prefix":$maxPrefixBlock,"composite":$maxCompositeBlock},""" +
        s""""ivf_neardup_cand":{"fixed16":$ivfNdFixedCand,"scaled":$ivfNdScaledCand},""" +
        s""""true_pairs":$nPairs,"decon_pairs":$nDeconPairs,"neardup_triangles":$nTriangles,""" +
        s""""planted_found":$plantedFound,"planted_expected":$plantedExpected}"""
      println(line)
      line
    }

    // SPARK_GRAFT_OUT lets the per-scale-JVM runner (tools/run_rehearsal.sh)
    // collect one file per scale and merge — round 14: growth curves must
    // measure the CODE, not the harness's accumulated session state (the
    // 50× clustered build read 41 s after five prior scales in one JVM,
    // 20.6 s in its own JVM — localCheckpoint blocks and GC pressure
    // accumulate across scales and inflate every shuffle-heavy entry).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "SCALING_REHEARSAL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      ("[" + lines.mkString(",\n") + "]\n").getBytes("UTF-8"))
    spark.stop()
  }
}
