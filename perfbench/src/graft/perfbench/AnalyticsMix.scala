package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.analytics.{Dedup, Relational}

/** A fixed list of gated queries over a seeded synthetic warehouse, each
  * executed through the noop sink as `graft.Bench` does. Every pass runs
  * the list in a seed-shuffled order. Set-up builds the `SessionMemo` legs
  * that q37, q71 and q122 ride, then runs one untimed pass, so the timed
  * passes pay no first planning or code generation; its checksums are the
  * ones every timed pass must reproduce. Read-only: nothing is written
  * but the warehouse itself. */
final class AnalyticsMix extends Workload {
  import AnalyticsMix._

  private var dir: String = _
  private val sums = mutable.HashMap.empty[String, (Long, Long)]
  private val legs = mutable.LinkedHashMap.empty[String, Double]

  def setup(ctx: Ctx): Unit = {
    graft.functions.SessionMemo.clear()
    dir = s"${ctx.work}/tables"
    Warehouse.write(ctx.spark, dir, Warehouse.tables(ctx.seed, Scale), ctx.hash)
    val spark = ctx.spark
    def leg(name: String)(build: => Unit): Unit = {
      val t0 = System.nanoTime()
      build
      legs(name) = (System.nanoTime() - t0) / 1e9
    }
    leg("pairgraph")(Dedup.nearDupPairs(spark, dir))
    leg("fuzzyedges")(Relational.fuzzyNearDup(spark, dir))
    leg("clustermap")(Dedup.dedupCorpus(spark, dir))
    leg("ensemblecc")(noop(SparkEntry.queries("q122_ensemble_dedup")(spark, dir)))
    sums.clear()
    Mix.foreach { case (q, _) => sums(q) = checksum(SparkEntry.queries(q)(spark, dir)) }
  }

  /** Step `i` runs one query: passes over the list follow each other, each
    * pass in its own seed-shuffled order. */
  def step(ctx: Ctx, i: Int): Unit = {
    val pass = new scala.util.Random(ctx.seed * 31 + i / Mix.length).shuffle(Mix)
    val (q, obj) = pass(i % Mix.length)
    ctx.op("op") {
      ctx.span(s"analytics.$obj")(checksum(SparkEntry.queries(q)(ctx.spark, dir)))
    }.foreach(sum => ctx.check(s"$q checksum is the same on every pass")(sums(q) == sum))
  }

  /** Set-up runs before tracing starts, so the legs' build times are
    * handed to the tracer here. */
  def finish(ctx: Ctx): Unit =
    legs.foreach { case (name, s) => ctx.tracer.add(s"functions.SessionMemo.$name.build_s", s) }

  def serialSteps: Int = Mix.length

  def tracedSteps: Int = 2 * Mix.length

  /** Whole passes: every run times the same multiset of queries. */
  override def stepsPerPass: Int = Mix.length

  def detail(ctx: Ctx, loopWall: Double): Seq[(String, Double, String)] = {
    val ops = ctx.series("op")
    Seq(("query_p50_s", Stats.median(ops), "s"), ("query_tail_s", Stats.tail(ops)._1, "s"),
      ("queries_per_s", ops.length / loopWall, "1/s"))
  }
}

object AnalyticsMix {
  /** Scale factor of the synthetic warehouse (0.01 ≈ 60k lineitem rows). */
  val Scale = 0.01

  /** (gated query, the analytics object it calls). */
  val Mix: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "Relational", "q06_customer_cube" -> "Relational",
    "q12_sessionize" -> "Relational", "q96_rolling_revenue" -> "Relational",
    "q102_mergeable_quantiles" -> "Relational",
    "q43_salted_skew_join" -> "LayoutOps",
    "q21_token_stats" -> "TextStats", "q22_quality_score" -> "TextStats",
    "q23_lang_id" -> "TextStats", "q66_gopher_filter" -> "TextStats",
    "q26_minhash_lsh" -> "Accuracy", "q28_cosine_topk" -> "Similarity",
    "q37_dedup_corpus" -> "Dedup", "q71_dedup_keep_best" -> "Dedup", "q122_ensemble_dedup" -> "Dedup",
    "q130_triangle_count" -> "Graph")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `df` through the noop sink once, observing an order-insensitive
    * checksum of every output column on the way: (rows, Σ 32-bit row hash). */
  def checksum(df: DataFrame): (Long, Long) = {
    val obs = Observation()
    val h = xxhash64(df.columns.map(c => df.col("`" + c.replace("`", "``") + "`")): _*)
    noop(df.observe(obs, count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xffffffffL))).as("h")))
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }
}
