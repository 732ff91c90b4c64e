package graft

import org.apache.spark.sql.functions._
import graft.analytics.{AnnGraph, AnnGraphIndex, Similarity}

/** Graph-ANN tier (q224): NN-Descent k-NN graph + IVF-guided beam search. */
class AnnGraphSpec extends SparkSpec {

  private lazy val vecs = Tables.embeddings(spark, sf("sf0.001"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("graph build: degree bound holds and NN-Descent rounds only improve per-node quality") {
    val init = AnnGraph.buildGraphOn(vecs, k = 8, rounds = 0)
    val refined = AnnGraph.buildGraphOn(vecs, k = 8, rounds = 2)
    val deg = refined.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).collect()(0).getLong(0)
    assert(deg <= 8, s"out-degree exceeded k: $deg")
    // the candidate set of every round includes the current edges, so the
    // per-src kept top-k can only improve: sum of sims is non-decreasing
    val q0 = init.groupBy(col("src")).agg(sum(col("sim")).as("s0"))
    val q2 = refined.groupBy(col("src")).agg(sum(col("sim")).as("s2"))
    val regressed = q0.join(q2, Seq("src"))
      .filter(col("s2") < col("s0") - lit(1e-9)).count()
    assert(regressed == 0, s"NN-Descent made $regressed nodes worse")
    // and it genuinely finds better neighbors than the cell-blocked init
    // somewhere (otherwise the rounds are dead code)
    val improved = q0.join(q2, Seq("src"))
      .filter(col("s2") > col("s0") + lit(1e-9)).count()
    assert(improved > 0, "NN-Descent rounds improved nothing")
  }

  test("beam search recall vs exact brute force on real queries") {
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = Similarity.bruteForceTopK(spark, sf("sf0.001"), k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = AnnGraph.graphTopKOn(vecs, q, k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    // isotropic 64-dim noise is the adversarial case for greedy graph
    // navigation (no similarity gradient to follow); the measured floor
    // documents the contract honestly rather than overclaiming
    assert(recall >= 0.5, s"graph-ANN recall collapsed: $recall")
  }

  test("plan: the beam frontier broadcasts into the graph expansion; graph never shuffles") {
    val g = AnnGraph.buildGraphOn(vecs, k = 4, rounds = 0)
    val frontier = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"))
    val und = g.select(col("src"), col("dst"))
      .unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
    val plan = AnnGraph.expandHop(und, frontier)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "frontier must broadcast into the graph join:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "graph side must stream, never sort-merge:\n" + plan.take(3000))
  }

  test("planted copies surface at rank 1 sim 1.0 through build + serve") {
    val out = analytics.Accuracy.graphTopKGate(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 10 &&
      out.forall { case (_, rk, sim) => rk == 1L && sim == 1.0 },
      s"plants lost: ${out.sortBy(_._1).mkString(", ")}")
  }

  /** Spark jobs of a default-width build over the spec vectors: the
    * vector count that sizes the width rides the job materializing cells. */
  private val BuildJobs = 34

  test("persisted index serves exactly what the in-memory path serves") {
    val name = "spec_graph_idx"
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val buildJobs = JobCount.of(spark)(AnnGraphIndex.build(vecs, name))
    info(s"jobs per default build: $buildJobs")
    assert(buildJobs == BuildJobs, s"the build ran $buildJobs jobs (pinned $BuildJobs)")
    // explicit knobs: this pins ALGORITHM equivalence against the
    // in-memory path's fixed defaults — the persisted serve's own
    // defaults are density-adaptive and may resolve wider
    val persisted = AnnGraphIndex.topKAgainst(spark, name, q, k = 5,
        beam = 32, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val inMemory = AnnGraph.graphTopKOn(vecs, q, k = 5)
      .collect().map(_.toSeq).toSet
    assert(persisted == inMemory,
      s"persisted serve diverged from the in-memory path:\n" +
        s" only persisted: ${(persisted -- inMemory).take(5)}\n" +
        s" only in-memory: ${(inMemory -- persisted).take(5)}")
  }

  test("persisted index: delete masks immediately, compact purges at rest, swap deploys v2") {
    val name = "spec_graph_idx_life"
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // plants make the assertions sharp: each query's planted copy is its
    // guaranteed top-1 while present, and must VANISH once deleted
    val planted = q.select((col("query_id") + 500000L).as("vec_id"),
      expr("transform(qv, x -> x * 2.0d)").as("v"))
    AnnGraphIndex.build(vecs.unionByName(planted), name)
    def top1 = AnnGraphIndex.topKAgainst(spark, name, q, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top1.forall { case (qid, n, s) => n == qid + 500000L && s == 1.0 },
      "plants not served before the delete")
    // merge-on-read: the delete request touches no index table, but the
    // tombstoned plants must stop being served from the next query on
    AnnGraphIndex.delete(planted.select(col("vec_id")), name)
    assert(top1.forall { case (_, n, s) => n < 500000L && s < 1.0 },
      "tombstoned plants still served")
    // physical purge: after compact the raw tables (bypassing the
    // merge-on-read filter on purpose) hold no tombstoned endpoint
    AnnGraphIndex.compact(spark, name)
    def rawIds(t: String, c: String): Set[Long] =
      spark.read.parquet(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString)
        .select(col(c)).distinct().collect().map(_.getLong(0)).toSet
    val gone = (0 until 5).map(_ + 500000L).toSet
    assert(rawIds(s"${name}_vectors", "vec_id").intersect(gone).isEmpty,
      "purged vectors still at rest")
    assert(rawIds(s"${name}_edges", "src").intersect(gone).isEmpty &&
      rawIds(s"${name}_edges", "dst").intersect(gone).isEmpty,
      "purged edge endpoints still at rest")
    // generation swap: rebuild WITH the plants under a staging name, swap,
    // and the plants serve again through the live name
    AnnGraphIndex.build(vecs.unionByName(planted), s"${name}_v2")
    AnnGraphIndex.swapIn(spark, s"${name}_v2", name)
    assert(top1.forall { case (qid, n, s) => n == qid + 500000L && s == 1.0 },
      "staged generation not serving after swapIn")
  }

  test("serving survives tombstoned entry reps: fallback seeds from retained members") {
    val name = "spec_graph_repdel"
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // plants never become reps (rep = min vec_id per cell; every cell with
    // a plant also holds its small-id original), so deleting EVERY rep
    // tombstones all entry points while keeping the plants retained — the
    // exact zero-seed state the fallback exists for (round-10 ADVICE)
    val planted = q.select((col("query_id") + 700000L).as("vec_id"),
      expr("transform(qv, x -> x * 2.0d)").as("v"))
    AnnGraphIndex.build(vecs.unionByName(planted), name)
    val reps = spark.table(s"${name}_entries").select(col("rep").as("vec_id"))
      .localCheckpoint()
    AnnGraphIndex.delete(reps, name)
    // explicit knobs: entry-rep fallback is a BEAM-path mechanism — the
    // auto exact-serve fallback (sparse+small) would bypass seeds entirely
    val top1 = AnnGraphIndex.topKAgainst(spark, name, q, k = 1, beam = 64, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top1.length == 5,
      s"queries lost their seeds entirely: ${top1.length}/5 answered")
    assert(top1.forall { case (qid, n, s) => n == qid + 700000L && s == 1.0 },
      s"plants lost after rep deletion: ${top1.mkString(", ")}")
  }

  test("extend: fresh vectors reachable through appended reverse edges; duplicates never double-rank") {
    import spark.implicits._
    val name = "spec_graph_idx_ext"
    AnnGraphIndex.build(vecs, name)
    val qv3 = vecs.filter(col("vec_id") === 3L).collect()(0).getSeq[Double](1)
    val plant = Seq((2000003L, qv3.map(_ * 2.0))).toDF("vec_id", "v")
    AnnGraphIndex.extend(plant, name)
    // explicit knobs: this test pins reachability THROUGH THE EDGES —
    // the auto exact fallback would find the plant without touching one
    def top2 = AnnGraphIndex.topKAgainst(spark, name,
      vecs.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("query_id"), col("v").as("qv")), k = 2,
      beam = 64, nprobe = 4)
      .collect().sortBy(_.getAs[Int]("rn"))
    val t = top2
    assert(t(0).getAs[Long]("neighbor_id") == 2000003L &&
      t(0).getAs[Double]("cos_sim") == 1.0,
      s"extended plant not reachable: ${t.mkString(", ")}")
    // crash-replay past the marker guard duplicates rows; the serve-side
    // (query, neighbor) dedup must keep the plant to ONE top-k slot
    AnnGraphIndex.extend(plant, name)
    val t2 = top2
    assert(t2(0).getAs[Long]("neighbor_id") == 2000003L &&
      t2(1).getAs[Long]("neighbor_id") != 2000003L,
      "duplicated extend rows occupied two top-k slots")
  }

  test("extend stores full-precision edge sims — rounding stays at the serving boundary") {
    import spark.implicits._
    val name = "spec_graph_fullprec"
    AnnGraphIndex.build(vecs, name)
    // a new vector deliberately NOT collinear with anything: its edge
    // cosines carry long mantissas, so a 4-dp round at rest is detectable
    val base = vecs.filter(col("vec_id") === 7L).collect()(0).getSeq[Double](1)
    val shifted = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.3 else x }
    AnnGraphIndex.extend(Seq((2000007L, shifted)).toDF("vec_id", "v"), name)
    val stored = spark.table(s"${name}_edges")
      .filter(col("src") === 2000007L)
      .select(col("sim")).collect().map(_.getDouble(0))
    assert(stored.nonEmpty, "extend appended no edges for the new vector")
    assert(stored.exists(s => s != math.rint(s * 1e4) / 1e4),
      s"extend stored only 4-dp-rounded sims — compact's max(sim) would " +
        s"prefer build-path weights on near-ties: ${stored.take(5).mkString(", ")}")
  }

  test("streaming maintenance: fresh vector served next batch; marker makes replay a no-op") {
    import spark.implicits._
    import graft.streaming.AnnGraphIndexStream
    val name = "spec_graph_idx_stream"
    AnnGraphIndex.build(vecs, name)
    val tmp = java.nio.file.Files.createTempDirectory("graph_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AnnGraphIndexStream.VecArrival]
    val qv5 = vecs.filter(col("vec_id") === 5L).collect()(0).getSeq[Double](1)
    in.addData(AnnGraphIndexStream.VecArrival(2000005L, qv5.map(_ * 2.0)))
    val q = AnnGraphIndexStream.run(in.toDS(), name, tmp)
      .option("checkpointLocation", s"$tmp/_cp").start()
    try q.processAllAvailable() finally q.stop()
    val top = AnnGraphIndex.topKAgainst(spark, name,
      vecs.filter(col("vec_id") === 5L)
        .select(col("vec_id").as("query_id"), col("v").as("qv")), k = 1)
      .collect()
    assert(top(0).getAs[Long]("neighbor_id") == 2000005L &&
      top(0).getAs[Double]("cos_sim") == 1.0,
      s"streamed vector not served: ${top.mkString(", ")}")
    val before = spark.table(s"${name}_edges").count()
    AnnGraphIndexStream.processBatch(spark, name,
      Seq((2000005L, qv5.map(_ * 2.0))).toDF("vec_id", "v"), 0L, tmp)
    assert(spark.table(s"${name}_edges").count() == before,
      "marker-guarded replay appended again")
  }

  /** Spark jobs of one standing AnnGraphIndexStream batch of ten vectors
    * on a default-built index. The stored vector count's batch size rides
    * the job that materializes the batch (16 when it was a `count`, two
    * jobs under AQE). */
  private val StreamBatchJobs = 14

  test("job-count pin: one standing stream batch on a default-built index") {
    import spark.implicits._
    import graft.streaming.AnnGraphIndexStream
    val name = "spec_graph_jobs"
    AnnGraphIndex.build(vecs, name)
    val fresh = vecs.filter(col("vec_id") < 10).collect()
      .map(r => (r.getLong(0) + 3000000L, r.getSeq[Double](1).map(_ * 2.0)))
      .toSeq.toDF("vec_id", "v").localCheckpoint()
    val jobs = JobCount.of(spark)(AnnGraphIndexStream.processBatch(spark, name,
      fresh, 0L, java.nio.file.Files.createTempDirectory("graph_jobs").toString))
    info(s"jobs per standing batch: $jobs")
    assert(jobs == StreamBatchJobs,
      s"one standing batch ran $jobs jobs (pinned $StreamBatchJobs)")
  }

  test("refresh: rebuild from current vectors honors deletions; degree re-normalizes; serving intact") {
    val name = "spec_graph_idx_refresh"
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val planted = q.select((col("query_id") + 700000L).as("vec_id"),
      expr("transform(qv, x -> x * 2.0d)").as("v"))
    AnnGraphIndex.build(vecs.unionByName(planted), name, k = 4)
    // degree/shape drift: several insert-by-search extend batches
    def extendBatch(b: Int) =
      vecs.filter(col("vec_id") >= 400 && col("vec_id") < 410)
        .select((col("vec_id") + lit(800000L + b * 1000L)).as("vec_id"), col("v"))
    (0 until 3).foreach(b => AnnGraphIndex.extend(extendBatch(b), name, k = 4))
    // a pending deletion at refresh time: the rebuild snapshot excludes it
    AnnGraphIndex.delete(planted.select(col("vec_id")).filter(col("vec_id") === 700000L), name)
    // bare refresh: k (and the centroid grid) must resolve from the
    // STORED graft.k/graft.cents properties — the index was built at
    // k=4, so a caller-default rebuild at k=8 would fail the canonical
    // k=4 equality below (the round-12 KProp discipline, extended)
    AnnGraphIndex.refresh(spark, name)
    // renormalization, stated exactly: the refreshed graph IS the
    // canonical deterministic build over the retained vectors — the
    // extend-accrued edge shape (inflated degrees, insert-by-search
    // neighbor lists) is fully re-derived, not patched
    val retained = (0 until 3).map(extendBatch)
      .foldLeft(vecs.unionByName(planted))(_ unionByName _)
      .filter(col("vec_id") =!= 700000L)
    AnnGraphIndex.build(retained, s"${name}_ref", k = 4)
    def edgeSet(t: String): Set[(Long, Long)] = spark.table(t)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(s"${name}_edges") == edgeSet(s"${name}_ref_edges"),
      "refreshed graph differs from the canonical rebuild on retained vectors")
    // deleted plant gone at rest AND unserved; the other four still serve
    val atRest = spark.read.parquet(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_vectors"))
        .location.toString)
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(!atRest.contains(700000L), "tombstoned vector survived the refresh rebuild")
    val served = AnnGraphIndex.topKAgainst(spark, name, q, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(served.filter(_._1 != 0L).forall { case (qid, n, s) =>
      n == qid + 700000L && s == 1.0 },
      s"retained plants lost through the refresh: ${served.mkString(", ")}")
    assert(served.find(_._1 == 0L).forall(_._2 != 700000L),
      "deleted plant still served after refresh")
  }

  test("audit: clean lifecycle reads all-zero; planted corruption is detected") {
    import spark.implicits._
    val name = "spec_graph_idx_audit"
    AnnGraphIndex.build(vecs, name, k = 4, rounds = 0)
    def auditRow = AnnGraphIndex.audit(spark, name).collect()(0)
    val clean = auditRow
    assert(Seq(1, 2, 3, 4).forall(i => clean.getLong(i) == 0L),
      s"clean index audited dirty: $clean")
    // plant corruption straight into the edges table: an edge with an
    // unknown src, no reverse row, written twice
    val poison = Seq((9999999L, 0L, 0.5), (9999999L, 0L, 0.5))
      .toDF("src", "dst", "sim")
    // append at the table's OWN width (derived at build since round 14 —
    // a hard-coded 32 no longer matches)
    val nb = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${name}_edges")).bucketSpec.get.numBuckets
    poison.write.mode("append").bucketBy(nb, "src").sortBy("src")
      .format("parquet").saveAsTable(s"${name}_edges")
    val dirty = auditRow
    assert(dirty.getAs[Long]("orphan_endpoints") >= 1,
      s"orphan endpoint undetected: $dirty")
    assert(dirty.getAs[Long]("asym_edges") >= 1,
      s"asymmetric edge undetected: $dirty")
    assert(dirty.getAs[Long]("dup_edges") >= 1,
      s"duplicate edge undetected: $dirty")
  }

  test("degree cap: many small extends stay serveable; compact bounds max_degree at the stored cap") {
    import spark.implicits._
    val name = "spec_graph_idx_cap"
    val k = 2
    // small corpus slice so the build's own hub ceiling (which anchors the
    // cap — see AnnGraphIndex CapProp) stays low enough for the extends
    // below to provably exceed it
    val small = vecs.filter(col("vec_id") < 60)
    AnnGraphIndex.build(small, name, k = k, rounds = 1, numCentroids = 8,
      buckets = 4)
    val cap = AnnGraphIndex.storedCap(spark, name)
    assert(cap >= 3 * k && cap < 1000, s"stored cap not anchored: $cap")
    // many single-vector extends, every plant a scaled copy of vector 7:
    // each insert-by-search appends a reverse edge onto node 7, pushing
    // its stored degree past the cap (the round-11 q227 finding — extend
    // never prunes old nodes' lists)
    val t = small.filter(col("vec_id") === 7L)
    (0 until (cap + 5)).foreach { i =>
      AnnGraphIndex.extend(t.select((col("vec_id") + lit(3000000L + i)).as("vec_id"),
        expr("transform(v, x -> x * 2.0d)").as("v")), name)
    }
    def degreeOf(id: Long): Long = spark.table(s"${name}_edges")
      .filter(col("src") === id).select(col("dst")).distinct().count()
    val inflated = degreeOf(7L)
    assert(inflated > cap, s"extends did not inflate node 7 past cap=$cap — vacuous: $inflated")
    // BETWEEN compacts serving still works (the hop applies the stored
    // cap merge-on-read, so the frontier fan-out is bounded) and the
    // twin is found at rank 1 sim 1.0 — cap keeps TOP-by-sim, and the
    // plant↔twin edges sit at exactly 1.0
    val q7 = t.select(col("vec_id").as("query_id"), col("v").as("qv"))
    // explicit knobs: the capped HOP is the thing under test
    val top = AnnGraphIndex.topKAgainst(spark, name, q7, k = 1,
      beam = 64, nprobe = 4)
      .collect()
    assert(top.length == 1 && top(0).getDouble(2) == 1.0,
      s"capped serve lost the planted twin: ${top.mkString}")
    // compact enforces the cap PHYSICALLY (symmetric drop — the audit's
    // asym_edges must stay 0) without any pending deletions
    AnnGraphIndex.compact(spark, name)
    assert(degreeOf(7L) <= cap,
      s"compact left node 7 over the degree cap $cap: ${degreeOf(7L)}")
    val a = AnnGraphIndex.audit(spark, name).collect()(0)
    assert(a.getAs[Long]("asym_edges") == 0L,
      s"physical cap broke stored symmetry: $a")
    assert(a.getAs[Long]("max_degree") <= cap,
      s"audit max_degree above cap after compact: $a")
  }

  test("persisted serving plan: frontier broadcasts into the bucketed edges scan") {
    val name = "spec_graph_idx_plan"
    AnnGraphIndex.build(vecs, name, k = 4, rounds = 0)
    val frontier = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"))
    val plan = AnnGraphIndex.expandHopAgainst(spark, name, frontier)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "frontier must broadcast into the edges probe:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Exchange hashpartitioning(src"),
      "the edges table must stream, never shuffle:\n" + plan.take(3000))
  }

  test("sparse+small regime: auto serve is EXACT (recall 1.0); explicit knobs keep the beam") {
    val name = "spec_graph_exact"
    // sf0.001 isotropic embeddings are the adversarial sparse case (the
    // recall test above documents the beam's 0.5 floor on them) — exactly
    // the regime the round-12 fallback exists for
    AnnGraphIndex.build(vecs, name, rounds = 1)
    val density = graft.sink.TableProps
      .get(spark, s"${name}_entries", "graft.density").get.toDouble
    assert(density < AnnGraphIndex.SparseDensity,
      s"corpus not sparse — test premise broken: $density")
    assert(graft.sink.TableProps.get(spark, s"${name}_entries", "graft.nvec")
      .get.toLong == vecs.count(), "stored vector count wrong at build")
    assert(AnnGraphIndex.wouldServeExact(spark, name),
      "sparse+small index did not choose the exact fallback")
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // auto serve ≡ brute force, rank for rank — not "recall ≥ x": the
    // fallback IS the exact computation
    val brute = vecs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorOps.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("neighbor_id"), col("rn"))
      .collect().map(_.toSeq).toSet
    val auto = AnnGraphIndex.topKAgainst(spark, name, q, k = 10)
      .select(col("query_id"), col("neighbor_id"), col("rn"))
      .collect().map(_.toSeq).toSet
    assert(auto == brute, "auto serve in the sparse+small regime is not exact")
    // explicit knobs always run the beam algorithm (the rehearsal's knob
    // curve and the persisted≡in-memory spec depend on it): on this
    // corpus the beam provably misses some of the exact set
    val beam = AnnGraphIndex.topKAgainst(spark, name, q, k = 10,
        beam = 32, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rn"))
      .collect().map(_.toSeq).toSet
    assert(beam != auto, "explicit knobs did not disable the exact fallback")
    // the boundary itself is a stored-prop decision, overridable per
    // session: max 0 disables the fallback outright
    spark.conf.set("spark.graft.graph.exact.max", "0")
    try assert(!AnnGraphIndex.wouldServeExact(spark, name),
      "exact.max=0 did not disable the fallback")
    finally spark.conf.unset("spark.graft.graph.exact.max")
    // the count property tracks extends and re-derives exactly at compact
    import spark.implicits._
    val n0 = vecs.count()
    AnnGraphIndex.extend(Seq((8000001L, (1 to 8).map(_.toDouble).toArray))
      .toDF("vec_id", "v"), name)
    assert(graft.sink.TableProps.get(spark, s"${name}_entries", "graft.nvec")
      .get.toLong == n0 + 1, "extend did not advance the stored count")
    AnnGraphIndex.delete(Seq(8000001L).toDF("vec_id"), name)
    // the same live count re-derives the width: a default build of this
    // corpus fits one bucket, and a tiny rows-per-bucket target makes the
    // compaction widen both tables to ⌈live vectors / target⌉
    def widthOf(s: String) = graft.sink.Bucketed.bucketsOf(spark, name + s)
    assert(widthOf("_edges") == 1 && widthOf("_vectors") == 1,
      s"default build of $n0 vectors not one bucket")
    spark.conf.set("spark.graft.rows.per.bucket", "100")
    try AnnGraphIndex.compact(spark, name)
    finally spark.conf.unset("spark.graft.rows.per.bucket")
    assert(graft.sink.TableProps.get(spark, s"${name}_entries", "graft.nvec")
      .get.toLong == n0, "compact did not re-derive the exact count")
    val grown = ((n0 + 99) / 100).toInt
    assert(grown > 1 && widthOf("_edges") == grown && widthOf("_vectors") == grown,
      s"compact widths ${widthOf("_edges")}/${widthOf("_vectors")}, expected $grown")
    // two SEQUENTIAL extends stay exact — the verb's contract is
    // single-writer (concurrent extends of one index are the caller's
    // bug), not single-use: repeated serialized bumps must accumulate
    def vecOf(id: Long) = (id, (1 to 8).map(d => (d + id % 7).toDouble).toArray)
    AnnGraphIndex.extend(Seq(vecOf(8000002L), vecOf(8000003L))
      .toDF("vec_id", "v"), name)
    AnnGraphIndex.extend(Seq(vecOf(8000004L)).toDF("vec_id", "v"), name)
    assert(graft.sink.TableProps.get(spark, s"${name}_entries", "graft.nvec")
      .get.toLong == n0 + 3, "sequential extends lost a count bump")
    // a LEGACY index (built before graft.nvec existed) must seed the
    // property from the table's own count, never 0: a batch-sized seed on
    // a large sparse index would wrongly satisfy the exact-serve boundary
    // and auto serve would brute-force the whole table per query
    spark.sql(s"ALTER TABLE ${name}_entries UNSET TBLPROPERTIES ('graft.nvec')")
    AnnGraphIndex.extend(Seq(vecOf(8000005L)).toDF("vec_id", "v"), name)
    assert(graft.sink.TableProps.get(spark, s"${name}_entries", "graft.nvec")
      .get.toLong == spark.table(s"${name}_vectors").count(),
      "legacy-index extend did not seed graft.nvec from the table count")
  }

  test("dense regime: auto knobs resolve NARROW and serve ≡ explicit narrow (no fallback)") {
    import spark.implicits._
    val name = "spec_graph_dense"
    // synthetically DENSE corpus (round-12 VERDICT item 7: every rehearsed
    // scale sits below the 0.35 boundary, so the narrow auto path had
    // never fired in a measured run): near-parallel vectors — ones(8) plus
    // one perturbed dimension — give pairwise cosine ≈ 0.973, so the
    // stored mean-kth-neighbor diagnostic lands far above the boundary
    val dense = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        if (d == i % 8) 1.0 + 0.5 * (1.0 + (i / 8).toDouble / 16.0) else 1.0))
    }.toDF("vec_id", "v")
    val q = dense.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val planted = q.select((col("query_id") + 600000L).as("vec_id"),
      expr("transform(qv, x -> x * 2.0d)").as("v"))
    AnnGraphIndex.build(dense.unionByName(planted), name,
      numCentroids = 4, buckets = 4)
    val density = graft.sink.TableProps
      .get(spark, s"${name}_entries", "graft.density").get.toDouble
    assert(density > AnnGraphIndex.SparseDensity,
      s"constructed corpus not dense — test premise broken: $density")
    assert(!AnnGraphIndex.wouldServeExact(spark, name),
      "dense index must not take the exact fallback")
    // auto ≡ explicit narrow, row for row — the narrow operating point is
    // what the stored diagnostic selects in the dense regime
    val auto = AnnGraphIndex.topKAgainst(spark, name, q, k = 5)
      .collect().map(_.toSeq).toSet
    val narrow = AnnGraphIndex.topKAgainst(spark, name, q, k = 5,
        beam = 32, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(auto == narrow, "dense auto knobs did not resolve to the narrow point")
    // and recall holds ≈ the narrow point's own level (the item is that
    // auto picks narrow and recall doesn't collapse — near-parallel
    // vectors are tie-heavy, so the narrow beam may miss a plant the same
    // way the explicit narrow point does; auto ≡ narrow above pins that
    // they miss IDENTICALLY): ≥ 4 of 5 planted twins at rank 1, sim 1.0
    val top1 = AnnGraphIndex.topKAgainst(spark, name, q, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val hit = top1.count { case (qid, n, s) => n == qid + 600000L && s == 1.0 }
    assert(top1.length == 5 && hit >= 4,
      s"dense-regime auto recall collapsed ($hit/5): ${top1.mkString(", ")}")
  }
}
