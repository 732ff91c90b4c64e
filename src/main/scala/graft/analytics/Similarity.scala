package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.embeddings
import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Two paths:
  *  - bruteForceTopK: exact k-NN for a bounded query set — broadcast the
  *    queries, stream the corpus once. This is THE correct shape when
  *    |queries| is small: corpus-side scan parallelism, no corpus shuffle
  *    beyond the final per-query top-k, cost O(|Q|·N·d).
  *  - lshTopK: random-hyperplane (sign) LSH bucketing — the scale path when
  *    |queries| is also huge: both sides bucket by signature, candidates are
  *    only same-bucket pairs, then exact re-rank within candidates.
  *
  * Embedding cosine near-dup (all-pairs ≥ τ) reuses the same LSH bucketing —
  * see `embeddingNearDup`.
  */
object Similarity {

  /** q28: exact top-k cosine neighbors for query vectors (vec_id < 10),
    * excluding self. Queries are broadcast (tiny side); the per-query top-k
    * is a window rank partitioned by query — k·|Q| rows survive. Ordering
    * ties break on neighbor_id, so output is fully deterministic. */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").cast("array<double>").as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** Multi-table sign-LSH: `Sketches.LshTables` independent tables of
    * `LshPlanesPerTable` sign bits each (hyperplanes owned by the codegen'd
    * `sign_buckets` kernel). Multi-table OR-construction — a pair is a
    * candidate if it collides in ANY table — is what controls recall: for
    * cosine ≥ 0.9 (θ ≈ 26°) a pair matches one 8-bit table w.p.
    * (1−θ/π)^8 ≈ 0.29, so 8 tables miss with prob ≈ 6%. On isotropic data
    * (no genuinely-near neighbors) LSH intentionally returns few candidates
    * — that's the contract: it finds NEAR things, not top-k of noise. */
  private def withBuckets(df: DataFrame, vCol: String): DataFrame =
    df.select(col("*"),
      posexplode(graft.functions.Sketches.signBuckets(col(vCol))).as(Seq("tbl", "bk")))

  /** Core LSH k-NN over explicit frames (unit-testable with planted data).
    * corpus: (vec_id, v array<double>); queries: (query_id, qv). */
  def lshTopKOn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = withBuckets(corpus.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "nv")
    val q = withBuckets(queries.select(col("query_id"), col("qv")), "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.join(broadcast(q), Seq("tbl", "bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("nv")).as("sim"))
      // one exchange for the multi-table dedup aggregate AND the rank
      // window: hashing by query_id satisfies both (guide §2.4)
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** q29: multi-table LSH approximate k-NN for the same query set as q28.
    * Probabilistic (rows-only check); the scale path when the query set is
    * itself huge — candidate generation is an equi-join on (table, bucket),
    * cost tracks true near-pair density instead of |Q|·N. */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    lshTopKOn(e,
      e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv")), k)
  }

  /** IVF (inverted-file) ANN core — the OTHER classic scale path next to
    * sign-LSH: a coarse quantizer of `numCentroids` centroids partitions the
    * corpus into cells (each vector indexed under its nearest centroid);
    * a query probes only its `nprobe` nearest cells and re-ranks exactly
    * inside them. Candidate volume ≈ N·nprobe/numCentroids per query vs N
    * for brute force.
    *
    * Centroid "training" is a deterministic corpus sample (first
    * `numCentroids` vec_ids), optionally refined by seeded fixed-iteration
    * Lloyd k-means (`spark.graft.ivf.kmeans.iters`, default 0) — refinement
    * shifts cell boundaries, never the plan shape, and stays deterministic
    * so the result remains gate-checkable (q52 passes with the flag on).
    * Plan shape: centroids are packed into ONE broadcast row of parallel
    * (cids, cvs) arrays; assignment is a pure narrow map — the codegen'd
    * `nearest_centroid` kernel computes the argmax-cosine cell per corpus
    * row with NO K× row expansion, NO aggregate, and NO exchange (the
    * round-2 explode/partial-agg formulation is retained in SimilaritySpec
    * as a bit-parity oracle for the kernel). Candidate generation is an
    * equi-join on cell id. At 100 TB the corpus is scanned once for
    * assignment and reshaped only by the candidate join itself. */
  def ivfTopKOn(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    ivfCandidatesOn(corpus, queries, numCentroids, nprobe)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** The probed-cell candidate stage of [[ivfTopKOn]] (everything before the
    * per-query top-k rank) — also the scale instrumentation: candidate row
    * count ≈ N·nprobe/numCentroids·|Q| is the quantity that must grow
    * linearly, not quadratically, with the corpus. */
  /** Nearest-centroid cell assignment: single-row broadcast of the packed
    * centroid arrays + the codegen'd argmax kernel — a narrow map, no
    * expansion, no aggregate (ties on similarity resolve to smallest cid,
    * same semantics as the former max-struct formulation). Shared by the
    * IVF candidate stage and the q144 index-balance diagnostic. */
  private[graft] def assignCellsOn(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = centroids
      .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cs"))
      .select(expr("transform(cs, c -> c.cid)").as("cids"),
        expr("transform(cs, c -> c.cv)").as("cvs"))
    // every input column is preserved (payload columns ride along into the
    // persisted index — AnnIndex's filtered search needs them at rest);
    // inputs that carry only (vec_id, v) see the exact same output as before
    corpus.crossJoin(broadcast(packed))
      .select(corpus.columns.toIndexedSeq.map(col) :+
        graft.functions.Sketches.nearestCentroid(col("v"), col("cvs"), col("cids")).as("cid"): _*)
  }

  /** Centroid training for the IVF family — deterministic init (first
    * `numCentroids` vectors by id) plus the optional exact-decimal Lloyd
    * refinement described below. Factored out so the persisted index
    * ([[AnnIndex.build]]) trains the same quantizer the in-memory path
    * uses (their results then agree vector-for-vector, AnnIndexSpec). */
  private[graft] def trainCentroidsOn(corpus: DataFrame,
      numCentroids: Int): DataFrame = {
    def assignCells(centroids: DataFrame): DataFrame = assignCellsOn(corpus, centroids)

    val init = corpus.orderBy(col("vec_id")).limit(numCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

    // Optional Lloyd refinement (spark.graft.ivf.kmeans.iters, default 0):
    // assign → per-cell per-dim mean → new centroids. Deterministic — fixed
    // init, fixed iteration count, the mean vectors are rebuilt through
    // array_sort(collect_list(struct(dim, x))) so element order never
    // depends on aggregation order (collect_list alone is layout-ordered),
    // AND the per-cell mean itself sums in DECIMAL: decimal addition is
    // exact and associative, so — unlike a double sum, whose value depends
    // on partial-aggregate merge order — refined centroids are bitwise
    // identical across any partitioning/cluster layout. decimal(38,20)
    // holds 18 integer digits: |x| ≤ O(1) embedding components overflow
    // only past 10^18 rows per cell. Cells that empty out drop their
    // centroid — k may shrink, which only moves cell boundaries, not the
    // plan shape: quantizer quality is pluggable; assignment/probe/re-rank
    // stay identical (q52 pins recall with the flag on, SimilaritySpec).
    val iters = corpus.sparkSession.conf
      .getOption("spark.graft.ivf.kmeans.iters").map(_.toInt).getOrElse(0)
    if (iters == 0) init
    else graft.functions.Materialize(
      (0 until iters).foldLeft(init) { (c, _) =>
        assignCells(c)
          .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg((sum(col("x").cast("decimal(38,20)")) / count(lit(1)))
            .cast("double").as("x"))
          .groupBy(col("cid"))
          .agg(array_sort(collect_list(struct(col("dim"), col("x")))).as("a"))
          .select(col("cid"), expr("transform(a, p -> p.x)").as("cv"))
      })
  }

  private[graft] def ivfCandidatesOn(corpus: DataFrame, queries: DataFrame,
      numCentroids: Int, nprobe: Int): DataFrame = {
    val centroids = trainCentroidsOn(corpus, numCentroids)
    val assigned = assignCellsOn(corpus, centroids)

    // nprobe nearest cells per query (query set is small; window is cheap)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_c").desc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("sim_c", cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))

    // exact scoring within probed cells only; the caller ranks
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
  }

  /** q51: IVF ANN for the q28 query set. Deterministic (fixed centroid
    * sample) but values are engine-specific → rows-only check; q52 pins the
    * planted-duplicate recall as the oracle-checked claim. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5,
      numCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    ivfTopKOn(e,
      e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv")),
      k, numCentroids, nprobe)
  }

  /** q74: product-quantization (PQ) ANN — the third classic scale tier next
    * to sign-LSH and IVF, and the one that attacks STORAGE/BANDWIDTH: each
    * corpus vector is encoded once into m codes (m bytes at rest — 32× less
    * than 64 floats), queries score against reconstructions (asymmetric
    * distance), and only the over-fetched candidate ids rejoin the full
    * vector table for exact re-rank. At 100 TB the approx scan reads the
    * 8-byte code column instead of the 256-byte vector column — the scan
    * IS the bottleneck at warehouse scale, so the 32× applies to the whole
    * pass.
    *
    * Determinism: codebook = subvector blocks of the first `codewords`
    * corpus vectors (same sampling convention as IVF's quantizer), encode
    * and ADC are codegen'd kernels with fixed tie-breaks. Corpus vectors
    * are unit-normalized first, so dot(q, reconstruction) ranks like
    * (negative) L2 and exact cosine re-rank is a pure refinement.
    * q75 pins planted-copy recall as the oracle-checked claim. */
  def pqTopKOn(corpus: DataFrame, queries: DataFrame, k: Int,
      subDim: Int = 8, codewords: Int = 16, overfetch: Int = 4): DataFrame = {
    import graft.functions.Sketches
    val normC = corpus.select(col("vec_id"), l2Normalize(col("v")).as("v"))
    val normQ = queries.select(col("query_id"), l2Normalize(col("qv")).as("qv"))
    // codebook: one broadcast row, layout cbs[s*k + c] = block s of sample c
    // (the interpreted transforms below run once on a single row — not a
    // per-row path)
    val cbs = normC.orderBy(col("vec_id")).limit(codewords)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("sv"))
      .select(expr(
        s"""flatten(transform(sequence(0, size(sv[0].v) div $subDim - 1), s ->
           |  transform(sv, x -> slice(x.v, s * $subDim + 1, $subDim))))""".stripMargin)
        .as("cbs"))
    // encode once: the corpus's at-rest representation (vec_id, codes)
    val coded = normC.crossJoin(broadcast(cbs))
      .select(col("vec_id"), Sketches.pqEncode(col("v"), col("cbs")).as("codes"))
    // approx scan: corpus codes × broadcast (queries ⨯ codebook)
    val qcb = normQ.crossJoin(broadcast(cbs))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val cand = coded.crossJoin(broadcast(qcb))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Sketches.pqAdcSim(col("qv"), col("codes"), col("cbs")).as("approx_sim"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"), col("approx_sim"))
    // exact re-rank: only candidates fetch full vectors
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand
      .join(normC.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(normQ), "query_id")
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** q85: int8 scalar-quantization (SQ) ANN — the TRAINING-FREE quantization
    * tier next to PQ: no codebook, no sample pass — each corpus vector
    * carries its own max-abs scale + 8-bit codes (4× smaller than float32
    * at rest), encoded in one narrow map fused into the scan. The approx
    * scan scores dot(query, code·scale) via the codegen'd sq_adc_sim
    * kernel, over-fetches, and only candidate ids rejoin the full vectors
    * for exact re-rank — the identical two-phase shape as PQ (q74) with a
    * cheaper (and lossier-per-byte) code. Where PQ needs a training
    * sample shipped to every encoder, SQ quantizes streaming ingest
    * immediately — the right first tier for a continuously-growing corpus. */
  def sqTopKOn(corpus: DataFrame, queries: DataFrame, k: Int,
      overfetch: Int = 4): DataFrame = {
    import graft.functions.Sketches
    val normC = corpus.select(col("vec_id"), l2Normalize(col("v")).as("v"))
    val normQ = queries.select(col("query_id"), l2Normalize(col("qv")).as("qv"))
    // the at-rest representation: (vec_id, scale, codes) — no codebook
    val coded = normC.select(col("vec_id"),
      Sketches.sqScale(col("v")).as("scale"),
      Sketches.sqEncode(col("v")).as("codes"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val cand = coded.crossJoin(broadcast(normQ))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Sketches.sqAdcSim(col("qv"), col("codes"), col("scale")).as("approx_sim"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cand
      .join(normC.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(normQ), "query_id")
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** Deterministic ±1 random projection (Achlioptas' JL construction with
    * the sign drawn from Murmur3(out-dim, in-dim) — no RNG, no stored
    * matrix: any executor reproduces the row of the matrix it needs from
    * the hash). Linear, so an exact scaled copy projects to an exact
    * scaled copy — the planted gate's cos 1.0 survives projection. */
  private[graft] def rpProject(vName: String, rpDims: Int): Column =
    expr(s"""transform(sequence(0, ${rpDims - 1}), i ->
      aggregate(zip_with($vName, sequence(0, size($vName) - 1),
        (x, j) -> CASE WHEN pmod(hash(i, j), 2) = 0 THEN x ELSE -x END),
        0.0d, (acc, x) -> acc + x))""")

  /** q220: RANDOM-PROJECTION (JL) ANN — the dimension-reduction tier that
    * completes the quantizer matrix (IVF prunes ROWS, PQ/SQ shrink BYTES,
    * RP shrinks DIMENSIONS): corpus and queries project through one
    * deterministic ±1 matrix to `rpDims` dims (64 → 16 = 4× less
    * arithmetic and memory traffic per comparison; JL keeps angles to
    * within ~1/√rpDims), the approximate scan ranks candidates by
    * PROJECTED cosine, over-fetches `candMult`·k, and only candidates
    * rejoin the full vectors for exact re-rank — the same two-phase shape
    * as PQ/SQ (q74/q85), with the code computed on the fly instead of
    * stored. Composes with the row-pruning tiers at 100 TB (project
    * inside probed IVF cells); gated standalone here so the projection's
    * recall is what the planted gate measures. */
  def rpTopKOn(corpus: DataFrame, queries: DataFrame, k: Int,
      rpDims: Int = 16, candMult: Int = 8): DataFrame = {
    // two-phase, same discipline as PQ/SQ: the candidate scan and its
    // window shuffle carry ONLY (query_id, neighbor_id, projected sim) —
    // never the 64-dim vectors (hauling them through the dominant path
    // would negate the dimension reduction that is RP's whole point);
    // candidate IDS then rejoin the full vectors for the exact re-rank
    val proj = corpus.select(col("vec_id").as("neighbor_id"),
      rpProject("v", rpDims).as("pnv"))
    val projQ = queries.select(col("query_id"),
      rpProject("qv", rpDims).as("pqv"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("neighbor_id").asc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val cand = proj.crossJoin(broadcast(projQ))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("pqv"), col("pnv")).as("psim"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= k * candMult)
      .select(col("query_id"), col("neighbor_id"))
    cand
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
        "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** q220 entry: RP ANN for the q28 query set. */
  def rpTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    rpTopKOn(e,
      e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv")), k)
  }

  /** q87: IVF-PQ — the composition that production vector stores actually
    * run at 100 TB (the FAISS IVFPQ shape): IVF's coarse cells prune the
    * corpus to nprobe/numCentroids of its rows, PQ's byte codes make the
    * surviving scan read 8-byte codes instead of 256-byte vectors, and
    * exact re-rank touches only the over-fetched ids. Each tier keeps its
    * gated plan shape: broadcast centroids + narrow-map assignment (IVF),
    * one-row broadcast codebook + narrow-map encode (PQ), candidate
    * equi-join on cell id, per-query top-k windows on high-cardinality
    * keys. Compounded read savings ≈ (numCentroids/nprobe) × 32. */
  def ivfPqTopKOn(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 4,
      subDim: Int = 8, codewords: Int = 16, overfetch: Int = 4): DataFrame = {
    import graft.functions.Sketches
    val normC = corpus.select(col("vec_id"), l2Normalize(col("v")).as("v"))
    val normQ = queries.select(col("query_id"), l2Normalize(col("qv")).as("qv"))
    // PQ codebook over the same deterministic sample convention as q74
    val cbs = normC.orderBy(col("vec_id")).limit(codewords)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("sv"))
      .select(expr(
        s"""flatten(transform(sequence(0, size(sv[0].v) div $subDim - 1), s ->
           |  transform(sv, x -> slice(x.v, s * $subDim + 1, $subDim))))""".stripMargin)
        .as("cbs"))
    // IVF candidates (cell-pruned), then PQ ADC scoring on the survivors:
    // re-attach each candidate's codes (computed once, narrow) and the
    // query's exact vector; only ADC winners fetch full vectors
    val coded = normC.crossJoin(broadcast(cbs))
      .select(col("vec_id").as("neighbor_id"),
        Sketches.pqEncode(col("v"), col("cbs")).as("codes"))
    val cand = ivfCandidatesOn(
        normC, normQ.select(col("query_id"), col("qv")), numCentroids, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val shortlist = cand
      .join(coded, "neighbor_id")
      .join(broadcast(normQ.crossJoin(broadcast(cbs))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Sketches.pqAdcSim(col("qv"), col("codes"), col("cbs")).as("approx_sim"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(normC.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(normQ), "query_id")
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** q87 entry: IVF-PQ ANN for the q28 query set (rows-only; q88 oracle). */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    ivfPqTopKOn(e,
      e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv")), k)
  }

  /** q97: IVF-SQ — the training-light cell composition completing the
    * quantizer matrix (coarse cells × {full vectors, PQ codes, SQ codes}):
    * IVF's cells prune the corpus to ~nprobe/numCentroids of its rows, and
    * the surviving approx scan reads SQ's self-scaled int8 codes (4× less
    * than float32) with NO codebook training pass at all. Versus IVF-PQ
    * (q87) this trades ~8× weaker compression for a quantizer that applies
    * to streaming ingest immediately — the right composition while a corpus
    * is still growing, before a PQ codebook is worth training; re-encoding
    * later changes only the at-rest code column, never the plan. Plan shape
    * = IVF candidates (broadcast centroids, narrow-map cell assignment,
    * candidate equi-join on cell id) + SQ ADC on survivors + exact re-rank
    * on the over-fetched winners — every stage inherits its gated twin's
    * shape (q51's candidates, q85's ADC + re-rank). */
  def ivfSqTopKOn(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 4, overfetch: Int = 4): DataFrame = {
    import graft.functions.Sketches
    val normC = corpus.select(col("vec_id"), l2Normalize(col("v")).as("v"))
    val normQ = queries.select(col("query_id"), l2Normalize(col("qv")).as("qv"))
    // the at-rest representation: (vec_id, scale, codes) — no codebook
    val coded = normC.select(col("vec_id").as("neighbor_id"),
      Sketches.sqScale(col("v")).as("scale"),
      Sketches.sqEncode(col("v")).as("codes"))
    val cand = ivfCandidatesOn(
        normC, normQ.select(col("query_id"), col("qv")), numCentroids, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val shortlist = cand
      .join(coded, "neighbor_id")
      .join(broadcast(normQ), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Sketches.sqAdcSim(col("qv"), col("codes"), col("scale")).as("approx_sim"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(normC.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(normQ), "query_id")
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cos_sim"), col("rn"))
  }

  /** q97 entry: IVF-SQ ANN for the q28 query set (rows-only; q98 oracle). */
  def ivfSqTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    ivfSqTopKOn(e,
      e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("v").as("qv")), k)
  }

  /** q30: embedding-cosine near-duplicate pairs (cos ≥ τ) via the same
    * multi-table buckets: candidates collide in some table, verified
    * exactly. Rows-only check (correctly empty when no near-dups exist). */
  def embeddingNearDup(spark: SparkSession, dir: String, tau: Double = 0.95): DataFrame =
    embeddingNearDupOn(
      embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      tau)

  /** q144: IVF index balance diagnostic — vectors per cell under the
    * default deterministic quantizer (first `numCentroids` vec_ids). The
    * operational question behind it: is the inverted file BALANCED? A cell
    * holding half the corpus makes every probe of that cell a full scan
    * (the ANN twin of join skew, diagnosed BEFORE queries are slow, the
    * q111 philosophy). Plan: the same broadcast-packed `nearest_centroid`
    * narrow map as assignment (corpus scanned once, never reshaped) + one
    * partial+final count. Oracle-exact: the DuckDB side recomputes the
    * argmax-cosine assignment per vector (ties to the smallest cid), so
    * the gate pins the codegen'd kernel's ASSIGNMENT PARITY vector by
    * vector against an independent engine — stronger than planted recall,
    * which only pins the self-cell. */
  def ivfCellStats(spark: SparkSession, dir: String, numCentroids: Int = 16): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val init = e.orderBy(col("vec_id")).limit(numCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    assignCellsOn(e, init)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
  }

  /** q162: cluster-balanced diversity sample — the "cover every topic"
    * subset selection of corpus curation: assign every vector to its IVF
    * cell (q144's quantizer, oracle-recomputable), then keep the first `k`
    * per cell under a deterministic content-independent hash order
    * (md5(vec_id) — uniform within the cell, replayable, no insertion-order
    * bias). Counteracts majority-topic dominance the way q155 caps
    * domains: a cell with a million vectors contributes exactly k, same as
    * a cell with a hundred. Same WindowGroupLimit shape as q61/q155 — the
    * rank bound is pushed below the sort, so each map task ships at most
    * k rows per cell into the shuffle. */
  def clusterBalancedSample(spark: SparkSession, dir: String,
      numCentroids: Int = 16, k: Int = 5): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val init = e.orderBy(col("vec_id")).limit(numCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("pr"), col("vec_id"))
    assignCellsOn(e, init)
      .select(col("cid"), col("vec_id"),
        md5(col("vec_id").cast("string").cast("binary")).as("pr"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("cid"), col("vec_id"), col("rk"))
  }

  /** q143: embedding drift / segment-skew monitor — per-label centroid
    * geometry: how far each label's mean embedding sits from the origin
    * (centroid_norm — isotropic noise collapses toward 0 at 1/√n; a
    * clustered label keeps a large norm) and how aligned it is with the
    * global centroid (cos_to_global). This is the ML-data-ops check that
    * catches a source whose embeddings shifted after a model or
    * preprocessing change, per segment, without labels on quality.
    *
    * Determinism across engines (the interesting part): per-dim means are
    * accumulated as EXACT decimals of 6-dp-quantized components — decimal
    * addition is associative, so the sums are identical under any
    * partitioning AND identical to DuckDB's; the per-dim mean divides in
    * double (same two operands → same double). The dim-ordered mean
    * vectors then reduce sequentially (sorted-struct HOF here, dim-ordered
    * list_aggregate in the oracle), so even the final double sums add in
    * the same order — the 4-dp edge rounding is belt over suspenders.
    * Plan: one posexplode + one partial+final (label, dim) aggregate
    * (64·|labels| groups), then label-count-sized array ops — the corpus
    * is scanned once, nothing corpus-sized shuffles. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val comps = embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), round(col("x"), 6).as("xq"))
    // per-(label, dim) exact sums → double means → dim-ordered vectors
    val labelVecs = comps.groupBy(col("label"), col("dim"))
      .agg(sum(col("xq").cast("decimal(28,12)")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), (col("s").cast("double") / col("n")).as("m"), col("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        array_sort(collect_list(struct(col("dim"), col("m")))).as("a"))
      .select(col("label"), col("n_vecs"), expr("transform(a, p -> p.m)").as("mv"))
    val globalVec = comps.groupBy(col("dim"))
      .agg(sum(col("xq").cast("decimal(28,12)")).as("s"), count(lit(1)).as("n"))
      .select(col("dim"), (col("s").cast("double") / col("n")).as("g"))
      .agg(array_sort(collect_list(struct(col("dim"), col("g")))).as("a"))
      .select(expr("transform(a, p -> p.g)").as("gv"))
    labelVecs.crossJoin(broadcast(globalVec))
      .select(col("label"), col("n_vecs"),
        round(sqrt(expr("aggregate(transform(mv, x -> x * x), 0D, (acc, x) -> acc + x)")), 4)
          .as("centroid_norm"),
        round(cosine(col("mv"), col("gv")), 4).as("cos_to_global"))
  }

  /** q148: IVF-cell-blocked embedding near-dup — the third blocking scheme
    * for semantic dedup, completing the matrix {sign-LSH (q30), exact
    * (brute), IVF cells}: vectors are assigned to their nearest coarse
    * centroid (the q51/q144 codegen'd narrow map) and only same-cell pairs
    * are scored. Versus sign-LSH the recall trade is different in kind:
    * LSH recall is probabilistic per pair (union over tables), IVF recall
    * is geometric — a pair is found iff both members argmax to the same
    * cell, so near-dups split across a cell boundary are missed while
    * everything deep inside a cell is found exactly. Cosine is
    * scale-invariant and ties resolve identically, so an exact scaled
    * copy ALWAYS shares its original's cell — which is what lets the
    * planted gate (q148) state the full output in SQL.
    *
    * Scale: candidates are Σ_cells n_c²/2 = n·(cell size)/2 when balanced —
    * K (numCentroids) is the scale knob and must GROW with the corpus to
    * hold cell size (and thus per-doc candidate work) constant; a fixed K
    * degrades quadratically, and unbalanced cells degrade faster — the
    * q144 balance diagnostic is the watchdog for both. Assignment never
    * shuffles the corpus; the pair join shuffles once on cell id. */
  private[graft] def ivfNearDupOn(vecs: DataFrame, numCentroids: Int,
      tau: Double): DataFrame = {
    val init = vecs.orderBy(col("vec_id")).limit(numCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val cells = assignCellsOn(vecs, init)
    val a = cells.select(col("vec_id").as("vec_a"), col("v").as("va"), col("cid"))
    val b = cells.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("cid"))
    a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("cos_sim"))
  }

  /** [[embeddingNearDup]] over an explicit (vec_id, v) frame — shared with
    * the planted-pair gate (q30). */
  private[graft] def embeddingNearDupOn(vecs: DataFrame, tau: Double): DataFrame = {
    val e = withBuckets(vecs, "v")
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("tbl"), col("bk"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("tbl"), col("bk"))
    a.join(b, Seq("tbl", "bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= tau)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(round(max(col("sim")), 4).as("cos_sim"))
  }

  /** q223: the quantizer REFRESH training loop — fixed-iteration Lloyd
    * (k-means) over micro-unit INTEGER vectors, completing the index
    * lifecycle story: q166 decides WHEN to retrain (drift monitor), this
    * trains the replacement quantizer, and the staging-build + TableSwap
    * machinery (q217) deploys it. The seeded quantizer ([[trainCentroidsOn]],
    * k smallest vec_ids) is the build-time default; after drift, the Lloyd
    * rounds re-center the cells on the CURRENT vector population.
    * ([[trainCentroidsOn]]'s latent `spark.graft.ivf.kmeans.iters` knob is
    * the double-arithmetic sibling — deterministic but not oracle-exact;
    * THIS loop is the gateable integer-lattice form, with per-round
    * convergence metrics and the [[graft.analytics.AnnIndex
    * .refreshQuantizer]] deployment path.)
    *
    * Exactness discipline: components quantize once to micro-units via
    * `floor(x·10⁶ + 0.5)` — NOT `round()`: the testdata's embeddings sit
    * on a 2·10⁻⁶ lattice, so x·10⁶ lands on EXACT .5 ties 270 times at
    * sf0.01 and the two engines' round() tie rules would have to agree;
    * floor(+0.5) is pure IEEE arithmetic (float→double widening exact,
    * one multiply, one add, one floor) and therefore bit-identical on
    * both sides by construction. Distances are exact BIGINT sums
    * (|x−c| ≤ 2·10⁶ per component, squared ×64 dims ≈ 2.6·10¹⁴ — far
    * inside Long), ties break on (dist, cid), and the updated centroid is
    * the component-wise `floor(Σx/n)` — the one double division, whose
    * floor is provably exact for integer sums ≤ 2⁵³ with n ≤ corpus size
    * (the quotient sits ≥ 1/n away from the nearest integer unless the
    * division is exact). Every per-iteration output cell row — member
    * count, assignment objective J against the PRE-update centroid, and
    * the refreshed centroid's component sum — is therefore a pure integer
    * the DuckDB oracle reproduces bit-for-bit by unrolling the same
    * rounds (the q164 BPE-induction oracle pattern).
    *
    * Plan shape per round: the k-row centroid table is BROADCAST into a
    * narrow map over the corpus (cross join + zip_with/aggregate, fused
    * into the scan), the argmin is a per-vector window, and the update is
    * one (cid, component) aggregate — O(corpus·k·d) compute, one exchange
    * per round, nothing corpus-squared. At 100 TB: identical shape, with
    * the per-round Materialize as a real table checkpoint. */
  def lloydRefine(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3): DataFrame =
    lloydRefineOn(embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      k, iters)

  /** One assignment round: the k-row centroid table BROADCASTS into a
    * narrow map over the corpus (dist is a fused zip_with/aggregate), the
    * argmin is a per-vector window. Exposed so the plan spec pins the
    * broadcast on the production code path (the round's Materialize hides
    * it from the composed plan). */
  private[graft] def lloydAssign(q: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    q.crossJoin(broadcast(cents))
      .withColumn("dist", expr(
        "aggregate(zip_with(xq, c, (a, b) -> (a - b) * (a - b)), 0L, (s, d) -> s + d)"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("xq"), col("cid"), col("dist"))
  }

  private def lloydQuantize(vecs: DataFrame): DataFrame =
    graft.functions.Materialize(vecs.select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x * 1000000 + 0.5D) AS BIGINT))").as("xq")))

  /** The shared Lloyd loop: per-round metric frames + the final integer
    * centroids. */
  private def lloydLoop(q: DataFrame, k: Int,
      iters: Int): (Seq[DataFrame], DataFrame) = {
    var cents = graft.functions.Materialize(
      q.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("cid"), col("xq").as("c")))
    val rounds = (1 to iters).map { t =>
      val assigned = graft.functions.Materialize(lloydAssign(q, cents))
      val metrics = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("j_cell"))
      val refreshed = assigned
        .select(col("cid"), posexplode(col("xq")).as(Seq("j", "xj")))
        .groupBy(col("cid"), col("j"))
        .agg(sum(col("xj")).as("sx"), count(lit(1)).as("nj"))
        .select(col("cid"),
          struct(col("j"), floor(col("sx") / col("nj")).cast("long").as("cj")).as("p"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(p)), s -> s.cj)").as("cNew"))
      // an emptied cell keeps its previous centroid (deterministic; the
      // oracle's LEFT JOIN + coalesce states the same rule)
      cents = graft.functions.Materialize(
        cents.select(col("cid"), col("c").as("cOld"))
          .join(refreshed, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("cNew"), col("cOld")).as("c")))
      cents.join(metrics, Seq("cid"), "left")
        .select(lit(t).as("iter"), col("cid"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("j_cell"), lit(0L)).as("j_cell"),
          expr("aggregate(c, 0L, (s, x) -> s + x)").as("c_sum"))
    }
    (rounds, cents)
  }

  def lloydRefineOn(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"lloydRefineOn needs at least one round, got $iters")
    lloydLoop(lloydQuantize(vecs), k, iters)._1.reduce(_ unionByName _)
  }

  /** The refreshed quantizer itself — final Lloyd centroids de-quantized
    * to the (cid, cv) shape the ANN family stores. The deployment half is
    * [[AnnIndex.refreshQuantizer]]: q166 decides WHEN, this trains, the
    * staging-build + swap deploys. */
  private[graft] def lloydCentroidsOn(vecs: DataFrame, k: Int,
      iters: Int): DataFrame =
    lloydLoop(lloydQuantize(vecs), k, iters)._2
      .select(col("cid"), expr("transform(c, x -> x / 1000000.0D)").as("cv"))
}


