package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.lineitem

/** Derived accuracy checks: deterministic, oracle-checkable statements ABOUT
  * the probabilistic operators (MinHash/LSH/HLL are seed-fixed, so their
  * output is reproducible — but their values are engine-specific, so the raw
  * rows can't be DuckDB-checked). Each query here reduces a sketch result to
  * (a) quantities DuckDB can compute exactly, plus (b) a boolean accuracy
  * claim expected TRUE — so the driver's hash compare verifies both the
  * exact side and that the sketch met its bound.
  */
object Accuracy {

  /** q48: MinHash-LSH recall against the exact Jaccard pair set (q25).
    * recall = |LSH pairs ∩ exact pairs| / |exact pairs|; with 16 bands × 4
    * rows a true 0.6-Jaccard pair collides in some band w.p. ≈ 0.89, and
    * real near-dup pairs sit well above the threshold, so ≥ 0.8 overall is
    * the engineered floor. */
  def minhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = Dedup.nearDupPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val lsh = Dedup.minhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("c", lit(1L))
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_exact_pairs"),
        (sum(coalesce(col("c"), lit(0L))) >= count(lit(1)) * 0.8).as("recall_ok"))
  }

  /** q49: sign-LSH planted-duplicate recall. LSH's contract is finding NEAR
    * pairs — on the isotropic test embeddings the exact top-k are just the
    * least-orthogonal noise (cos ≈ 0.4), which LSH is *designed* to skip, so
    * "overlap with exact top-k of noise" is the wrong claim to pin. The
    * right deterministic claim: plant a scaled copy of every query vector in
    * the corpus (cos = 1, identical sign pattern ⇒ identical bucket in ALL
    * tables) — LSH MUST surface every plant at similarity 1.0. A broken
    * bucketing, hashing, or ranking stage makes this false. */
  def lshPlantedRecall(spark: SparkSession, dir: String): DataFrame =
    plantedRecall(spark, dir, (c, q) => Similarity.lshTopKOn(c, q, k = 5))

  /** q52: IVF planted-duplicate recall — same contract as q49 but for the
    * inverted-file path: a scaled copy of each query vector has identical
    * cosine to every centroid, so it lands in the query's own top-1 cell,
    * which the query always probes (nprobe ≥ 1) — IVF MUST return every
    * plant at similarity 1.0. Pins quantizer assignment, cell join, and
    * re-rank in one deterministic boolean. */
  def ivfPlantedRecall(spark: SparkSession, dir: String): DataFrame =
    plantedRecall(spark, dir, (c, q) =>
      Similarity.ivfTopKOn(c, q, k = 5, numCentroids = 16, nprobe = 4))

  /** q64: 128-bit SimHash planted-exact-copy recall. Identical texts have
    * identical fingerprints (distance 0, same value in EVERY chunk), so the
    * banded join MUST surface every planted copy — a broken kernel, chunk
    * split, or join drops this to false. Deterministic (content-derived
    * plant selection, no RNG), so the boolean is oracle-checkable; the
    * plant count is the exact oracle column. */
  def simhash128PlantedRecall(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val sample = base.filter(Sampling.contentBucket(col("text")) < 10)
    val planted = sample.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val pairs = Dedup.simhash128CandidatesOn(base.unionByName(planted))
      .filter(col("hamming") === 0)
    sample.select(col("doc_id").as("sid"))
      .join(pairs,
        col("sid") === col("doc_a") && col("doc_b") === col("sid") + 1000000L, "left")
      .agg(count(lit(1)).as("n_planted"),
        (sum(when(col("doc_a").isNotNull, 1L).otherwise(0L)) === count(lit(1)))
          .as("planted_ok"))
  }

  /** q75: PQ planted-copy recall — a scaled copy of each query vector
    * normalizes to the identical unit vector, therefore encodes to the
    * identical PQ codes, scores the maximum possible asymmetric similarity,
    * survives the over-fetch cut, and exact re-rank puts it at cos 1.0.
    * Deterministic end-to-end (fixed codebook sample, fixed tie-breaks), so
    * the boolean is oracle-checkable; a broken kernel, codebook layout, or
    * re-rank drops it to false. Scaled (not identical) copies prove the
    * path is genuinely geometric, not an equality shortcut. */
  def pqPlantedRecall(spark: SparkSession, dir: String): DataFrame =
    plantedRecall(spark, dir, (c, q) => Similarity.pqTopKOn(c, q, k = 5))

  /** q86: SQ planted-copy recall — a scaled copy of each query vector
    * normalizes to the identical unit vector, hence identical int8 scale +
    * codes, scores the maximum asymmetric similarity, survives the
    * over-fetch cut, and exact re-rank pins it at cos 1.0. Deterministic
    * end-to-end (per-vector scale, half-up rounding, fixed tie-breaks) so
    * the boolean is oracle-checkable. */
  def sqPlantedRecall(spark: SparkSession, dir: String): DataFrame =
    plantedRecall(spark, dir, (c, q) => Similarity.sqTopKOn(c, q, k = 5))

  /** q88: IVF-PQ planted-copy recall — the composed path must preserve both
    * constituent contracts at once: the plant's unit vector lands in the
    * query's own top-1 cell (IVF leg, q52's argument) AND encodes to the
    * query's identical PQ codes (PQ leg, q75's argument), so it must
    * survive cell pruning, ADC over-fetch, and exact re-rank at cos 1.0. */
  def ivfPqPlantedRecall(spark: SparkSession, dir: String): DataFrame =
    plantedRecall(spark, dir, (c, q) => Similarity.ivfPqTopKOn(c, q, k = 5))

  /** q98: IVF-SQ planted-copy recall — the composed path must preserve both
    * constituent contracts at once: the plant's unit vector lands in the
    * query's own top-1 cell (IVF leg, q52's argument) AND self-quantizes to
    * the query's identical int8 scale + codes (SQ leg, q86's argument), so
    * it must survive cell pruning, ADC over-fetch, and exact re-rank at
    * cos 1.0. Deterministic end-to-end → oracle-checkable boolean. */
  def ivfSqPlantedRecall(spark: SparkSession, dir: String): DataFrame =
    plantedRecall(spark, dir, (c, q) => Similarity.ivfSqTopKOn(c, q, k = 5))

  /** q50: HLL error bound — approx_count_distinct(rsd=0.01) vs the exact
    * distinct count, per group, asserted within ±5% (5 standard errors).
    * The exact counts ARE the oracle columns; the boolean pins the sketch. */
  def hllErrorBound(spark: SparkSession, dir: String): DataFrame =
    // exact count and HLL both over the deduplicated (flag, part) frame:
    // HLL is duplicate-insensitive (identical registers, identical
    // estimate), and separating the sketch from countDistinct keeps the
    // 21 KB HLL buffer out of the per-(flag,part) dedup hash map the
    // distinct-rewrite would otherwise build (see approxDistinct)
    lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"))
      .select(col("l_returnflag"), col("n_parts"),
        (abs(col("ap") - col("n_parts")) <= col("n_parts") * 0.05).as("hll_ok"))

  // --- per-query / per-pair GATE forms of the rows-only operators --------
  //
  // The raw candidate/top-k APIs stay available (and spec-tested) for users;
  // the driver-gated entries below reshape each one's output to rows a
  // DuckDB oracle can state exactly, using the planted-copy harnesses the
  // single-row recall twins (q48/q49/.../q119) already established — folded
  // into the query itself so every gated query is value-checked, not
  // rows-only.

  /** Shared ANN gate harness: plant a scaled copy of each query vector
    * (cos = 1 by construction), run a top-k method over corpus ∪ plants,
    * and emit ONE row per query with the plant's rank and similarity. The
    * oracle states (rank 1, sim 1.0) for every query — a broken bucketing,
    * quantizer, codebook, or re-rank moves rank/sim (or drops the row) and
    * the hash mismatches. Richer than the single-boolean twins: failures
    * localize to the query that broke. */
  private def plantedTopKGate(spark: SparkSession, dir: String,
      run: (DataFrame, DataFrame) => DataFrame): DataFrame =
    plantedTopK(spark, dir, run).groupBy(col("query_id"))
      .agg(min(when(col("neighbor_id") === col("query_id") + 1000000L,
          col("rn"))).as("rk"),
        max(when(col("neighbor_id") === col("query_id") + 1000000L,
          col("cos_sim"))).as("ps"))
      .select(col("query_id"), col("rk").cast("long").as("plant_rank"),
        col("ps").cast("double").as("plant_sim"))

  /** The single-boolean recall twins (q49/q52/q75/q86/q88/q98) of the
    * per-query gates: over the same planted corpus, did EVERY query find
    * its plant anywhere in its top-k at similarity 1.0? One row:
    * (n_queries, planted_ok). */
  private def plantedRecall(spark: SparkSession, dir: String,
      run: (DataFrame, DataFrame) => DataFrame): DataFrame =
    plantedTopK(spark, dir, run).groupBy(col("query_id"))
      .agg(max(when(col("neighbor_id") === col("query_id") + 1000000L &&
        col("cos_sim") === 1.0, 1L).otherwise(0L)).as("found"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(col("found")) === count(lit(1))).as("planted_ok"))

  /** `run`'s top-k of the first ten embeddings (query_id, qv) over the
    * corpus plus a scaled copy of each (vec_id + 10⁶, ×2 magnitude: same
    * direction, so cosine exactly 1.0 — and a genuinely geometric path,
    * not an equality shortcut). */
  private def plantedTopK(spark: SparkSession, dir: String,
      run: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 10)
    val planted = q.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(v, x -> x * 2.0d)").as("v"))
    run(e.unionByName(planted),
      q.select(col("vec_id").as("query_id"), col("v").as("qv")))
  }

  /** q29 gate: sign-LSH top-k, per-query planted rank/sim. */
  def lshTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => Similarity.lshTopKOn(c, q, k = 5))

  /** q51 gate: IVF top-k, per-query planted rank/sim. */
  def ivfTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir,
      (c, q) => Similarity.ivfTopKOn(c, q, k = 5, numCentroids = 16, nprobe = 4))

  /** q74 gate: PQ-ADC top-k, per-query planted rank/sim. */
  def pqTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => Similarity.pqTopKOn(c, q, k = 5))

  /** q85 gate: SQ-int8 top-k, per-query planted rank/sim. */
  def sqTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => Similarity.sqTopKOn(c, q, k = 5))

  /** q87 gate: IVF-PQ top-k, per-query planted rank/sim. */
  def ivfPqTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => Similarity.ivfPqTopKOn(c, q, k = 5))

  /** q97 gate: IVF-SQ top-k, per-query planted rank/sim. */
  def ivfSqTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => Similarity.ivfSqTopKOn(c, q, k = 5))

  /** q220 gate: random-projection (JL) top-k, per-query planted rank/sim —
    * the projection is linear, so the planted 2× copy keeps cos 1.0 in the
    * PROJECTED candidate rank too; a broken projection or candidate cut
    * drops the plant and the hash mismatches. */
  def rpTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => Similarity.rpTopKOn(c, q, k = 5))

  /** q224 gate: graph-ANN (NN-Descent build + beam-search serve) top-k,
    * per-query planted rank/sim. The planted 2× copy shares the query's
    * direction, so it is the beam's similarity argmax the moment ANY of
    * {the plant, the query's own corpus twin} enters the explored set —
    * and the twin's top out-edge IS the plant (cos 1.0), so one further
    * hop always surfaces it. A broken graph build, symmetrization, or
    * beam rank drops the plant and the hash mismatches. */
  def graphTopKGate(spark: SparkSession, dir: String): DataFrame =
    plantedTopKGate(spark, dir, (c, q) => AnnGraph.graphTopKOn(c, q, k = 5))

  /** q26 gate: exact Jaccard ≥ 0.6 pair set (the q25 oracle re-states it)
    * with a per-pair `lsh_found` flag from the MinHash-LSH candidate path.
    * The oracle asserts TRUE for every exact pair — i.e. recall 1.0 over
    * the real (not planted) near-dup set, which holds for this banding
    * because true near-dup pairs sit far above the 0.6 threshold. Stronger
    * than q48's aggregate recall bound: a single missed pair flips one
    * row's flag and the hash mismatches. */
  def minhashLshGate(spark: SparkSession, dir: String): DataFrame = {
    val exact = Dedup.nearDupPairs(spark, dir)
    val lsh = Dedup.minhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("f", lit(true))
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("f"), lit(false)).as("lsh_found"))
  }

  /** Shared SimHash planted-pair gate: plant an exact copy (+1e6 id) of the
    * deterministic 10% content sample; identical texts hash to identical
    * fingerprints, which agree on EVERY banded chunk, so the candidate join
    * must surface each (id, id+1e6) pair at Hamming 0. One output row per
    * planted doc — the oracle re-derives the sample and states distance 0.
    * A broken kernel, chunk split, or join drops rows or moves `hamming`. */
  private def simhashPlantedGate(spark: SparkSession, dir: String,
      candidates: DataFrame => DataFrame): DataFrame = {
    val base = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val sample = base.filter(Sampling.contentBucket(col("text")) < 10)
    val planted = sample.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    candidates(base.unionByName(planted))
      .filter(col("hamming") <= 3)
      .filter(col("doc_b") === col("doc_a") + 1000000L)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** q27 gate: 64-bit SimHash planted exact-copy pairs. */
  def simhash64Gate(spark: SparkSession, dir: String): DataFrame =
    simhashPlantedGate(spark, dir, Dedup.simhash64CandidatesOn)

  /** q63 gate: 128-bit SimHash planted exact-copy pairs. */
  def simhash128Gate(spark: SparkSession, dir: String): DataFrame =
    simhashPlantedGate(spark, dir, Dedup.simhash128CandidatesOn)

  /** q30 gate: sign-LSH embedding near-dup over corpus ∪ scaled plants of
    * vec_id < 100. A scaled copy keeps the exact sign pattern, so it shares
    * the plant's bucket in EVERY table and verifies at cos 1.0; the
    * isotropic noise corpus has no organic pair ≥ τ (q30's raw form is
    * correctly empty), so the found-pair set is EXACTLY the planted set —
    * output left unfiltered, which also gates precision (a false positive
    * would add a row the oracle doesn't state). */
  def embeddingNearDupGate(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, x -> x * 2.0d)").as("v"))
    Similarity.embeddingNearDupOn(e.unionByName(planted), tau = 0.95)
  }

  /** q148 gate: IVF-cell-blocked near-dup over the same corpus ∪ scaled
    * plants as q30. A scaled copy has its original's exact direction, so
    * its argmax-cosine cell is the original's cell (same similarities,
    * same smallest-cid tie-break — the centroid set is the 16 smallest
    * ORIGINAL vec_ids, untouched by the +1000000 plants), and the pair is
    * scored within the cell at cos 1.0. No organic pair reaches τ on the
    * isotropic corpus, so the found set is exactly the planted set — the
    * geometric-recall contract (same cell ⇒ found) stated in SQL. */
  def ivfNearDupGate(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = e.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, x -> x * 2.0d)").as("v"))
    Similarity.ivfNearDupOn(e.unionByName(planted), numCentroids = 16, tau = 0.95)
  }

  /** q152: KMV theta-sketch set algebra vs exact — the capability HLL lacks.
    * Distinct parts shipped under returnflag 'R' vs 'A', their union,
    * intersection and Jaccard, computed exactly (countDistinct + a
    * two-segment groupBy) and estimated from two 8 KB KMV sketches
    * ([[graft.functions.KmvSketch]]). The exact columns are the oracle; the
    * booleans pin each estimate inside ±16% (5+ standard errors at k=1024,
    * rse ≈ 3.1%) — deterministic for fixed data because the kept hash set
    * is a pure function of the value set.
    *
    * Scale story: at 100 TB the exact twin columns are the gate scaffolding
    * (COVERAGE.md); production ships only the sketch legs — two scans that
    * shuffle 8 KB each, vs an exact distinct join's full-key shuffle. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch._
    val li = lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_returnflag").as("flag"), col("l_partkey"),
        xxhash64(col("l_partkey")).as("h"))
    // sketch and exact twin in SEPARATE aggregates: a countDistinct in the
    // same agg would make the distinct-rewrite attach the 8 KB KMV buffer
    // to every dedup group (see approxDistinct). Each leg is one 1-row
    // frame; the recombination joins are broadcast no-ops.
    def side(f: String, skName: String, nName: String) = {
      val s = li.filter(col("flag") === f)
      s.agg(kmvSketch(col("h"), 1024).as(skName))
        .crossJoin(broadcast(s.agg(countDistinct(col("l_partkey")).as(nName))))
    }
    val r = side("R", "sk_r", "n_r")
    val a = side("A", "sk_a", "n_a")
    val exact = li.groupBy(col("l_partkey"))
      .agg(countDistinct(col("flag")).as("nf"))
      .agg(count(lit(1)).as("n_union"),
        sum(when(col("nf") === 2, 1L).otherwise(0L)).as("n_both"))
    r.crossJoin(broadcast(a)).crossJoin(broadcast(exact))
      .select(col("n_r"), col("n_a"), col("n_both"), col("n_union"),
        (abs(kmvEstimate(col("sk_r")) - col("n_r")) <= col("n_r") * 0.16 + lit(4.0))
          .as("est_r_ok"),
        (abs(kmvEstimate(col("sk_a")) - col("n_a")) <= col("n_a") * 0.16 + lit(4.0))
          .as("est_a_ok"),
        (abs(kmvEstimate(kmvUnion(col("sk_r"), col("sk_a"))) - col("n_union")) <=
          col("n_union") * 0.16 + lit(4.0)).as("union_ok"),
        (abs(kmvIntersectEstimate(col("sk_r"), col("sk_a")) - col("n_both")) <=
          col("n_both") * 0.20 + lit(4.0)).as("inter_ok"),
        (abs(kmvJaccard(col("sk_r"), col("sk_a")) -
          col("n_both").cast("double") / col("n_union")) <= lit(0.08)).as("jaccard_ok"))
  }

  /** q153: KMV merge invariance — the rollup contract, gated BITWISE. The
    * serialized sketch rolled up from per-nation partial sketches
    * (`kmv_merge` over stored binaries) must equal the sketch built in one
    * pass over the raw keys: the kept set is "k smallest distinct hashes",
    * a pure function of the value set, so partitioning must not leak into
    * the bytes. This is the storage pattern at scale: per-partition
    * sketches persisted at ingest, table-level answers from sketch-only
    * rollups that never rescan raw data. */
  def kmvRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch._
    val c = graft.Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_custkey"),
        xxhash64(col("c_custkey")).as("h"))
    // per-nation sketches and per-nation exact counts in separate
    // aggregates (same distinct-rewrite buffer hazard as q152), rejoined
    // on the tiny nation key
    val perNation = c.groupBy(col("c_nationkey"))
      .agg(kmvSketch(col("h"), 1024).as("sk"))
      .join(c.groupBy(col("c_nationkey"))
        .agg(countDistinct(col("c_custkey")).as("n")), "c_nationkey")
    val rolled = perNation.agg(kmvMerge(col("sk")).as("sk_rollup"),
      sum(col("n")).as("n_exact"), count(lit(1)).as("n_nations"))
    val direct = c.agg(kmvSketch(col("h"), 1024).as("sk_direct"))
    rolled.crossJoin(broadcast(direct))
      .select(col("n_nations"), col("n_exact"),
        (col("sk_rollup") === col("sk_direct")).as("merge_bitwise_ok"),
        (abs(kmvEstimate(col("sk_rollup")) - col("n_exact")) <=
          col("n_exact") * 0.16 + lit(4.0)).as("est_ok"))
  }
}
