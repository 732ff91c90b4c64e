package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One closed-loop workload: one client, the next operation starts when
  * the previous one returned. */
trait Workload {
  /** The set-up: inputs, warm-up, memo legs, index builds. */
  def setup(ctx: Ctx): Unit
  /** One step of the loop; records its samples on `ctx`. */
  def step(ctx: Ctx, i: Int): Unit
  /** End-of-run verbs and output checks. */
  def finish(ctx: Ctx): Unit
  /** Stops whatever the last set-up left running. */
  def close(ctx: Ctx): Unit = ()
  /** Traced steps of the traced run (as many run untraced). */
  def tracedSteps: Int
  /** Steps timed on local[N] and on local[1] for the parallel speedup; at
    * most the first half of `tracedSteps`, rounded up. */
  def serialSteps: Int
  /** Untimed, untraced steps the traced run makes on both sessions before
    * the timed ones, for a workload whose set-up leaves its first step
    * cold: without them the first traced step pays the warm-up and
    * `harness.trace_overhead` reads high. */
  def tracedWarmup: Int = 0
  /** The loop only stops after a multiple of this many steps. */
  def stepsPerPass: Int = 1
  /** Per-layer names this workload reports under another name than the
    * tracer's generic one. */
  def layerAliases: Map[String, String] = Map.empty
  /** Workload-specific end-to-end figures, printed by name with a unit. */
  def detail(ctx: Ctx, loopWall: Double): Seq[(String, Double, String)]
}

/** State shared by the harness and a workload during one run. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val cores: Int, val tracer: Tracer) {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val hash = new Gen.InputHash
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def series(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Times `body` as one sample of `series`; a throw counts as a failed op. */
  def op[T](series: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$series: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** One output check; a false result counts as a failed op. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Exception => failures += s"$what: $e".take(300); false }
    if (!pass) { failed += 1; failures += s"check failed: $what" }
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Below 21 samples that percentile
    * would not lie above the median, so the maximum stands in for it. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (Double.NaN, 0, 0)
    else if (n <= 20) (s.last, 100, n)
    else (s(n - 11), math.floor(100.0 * (n - 10) / n).toInt, n)
  }
}

object Main {
  /** End-to-end metric names (untraced run), in print order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_s" -> "s",
    "op_tail_s" -> "s", "ops_per_s" -> "1/s", "peak_live_heap_mb" -> "MB")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cores: Int, traces: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("work"),
      m("cores").toInt, m("traces"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String): Workload = name match {
    case "listing_ingest"    => new ListingIngest
    case "analytics_mix"     => new AnalyticsMix
    case "index_maintenance" => new IndexMaintenance
    case other               => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `graft.Bench`'s calibration probe: fixed work, so its time moves only
    * with the host. */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use right after a full collection, in MB. Two collections
    * with a pause between: Spark's cleaner frees cached blocks and
    * broadcasts only once the first collection has found their handles
    * unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o.workload)
    val out = if (o.trace) traced(o, w, o.cores) else untraced(o, w, o.cores)
    System.out.flush()
    sys.exit(if (out) 0 else 1)
  }

  private def loop(ctx: Ctx, w: Workload, seconds: Double, first: Int): (Int, Double) = {
    val t0 = System.nanoTime()
    var i = first
    while ((System.nanoTime() - t0) / 1e9 < seconds || (i - first) % w.stepsPerPass != 0) {
      w.step(ctx, i)
      i += 1
    }
    (i - first, (System.nanoTime() - t0) / 1e9)
  }

  private def steps(ctx: Ctx, w: Workload, n: Int, first: Int): Double = {
    val t0 = System.nanoTime()
    (first until first + n).foreach(w.step(ctx, _))
    (System.nanoTime() - t0) / 1e9
  }

  private def untraced(o: Opts, w: Workload, cores: Int): Boolean = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, o.work)
    val sessionReady = (System.currentTimeMillis() - jvmStart) / 1e3
    val ctx = new Ctx(spark, o.work, o.seed, cores, new Tracer(cores))
    w.setup(ctx)
    // process start -> set-up done: session, inputs, warm-up, memo, indexes
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val probeS = probe(spark)
    val (n, wall) = loop(ctx, w, o.seconds, 0)
    // the live heap peaks once the loop has filled the caches, or after
    // the end verbs
    var heap = liveHeapMb()
    w.finish(ctx)
    w.close(ctx)
    heap = math.max(heap, liveHeapMb())
    val ops = ctx.series("op")
    val (tailV, tailPct, count) = Stats.tail(ops)
    val metrics = Seq("setup_s" -> setupS, "op_p50_s" -> Stats.median(ops),
      "op_tail_s" -> tailV, "ops_per_s" -> ops.length / wall, "peak_live_heap_mb" -> heap)
    println(s"input_sha256 ${ctx.hash.hex}")
    println(f"session_start_s $sessionReady%.3f s; setup_s $setupS%.3f s")
    println(f"harness.probe_s $probeS%.4f s; steps $n; loop_wall $wall%.3f s; op_samples $count; op_tail_pct p$tailPct")
    val errorRate = ctx.failed.toDouble / math.max(ctx.attempted, 1)
    (w.detail(ctx, wall) :+ (("error_rate", errorRate, "ratio"))).foreach {
      case (k, v, u) => println(s"metric $k = $v $u")
    }
    ctx.failures.foreach(f => println(s"FAILED $f"))
    spark.stop()
    emit(ctx, metrics.map { case (k, v) => (k, v, EndToEnd.toMap.apply(k)) })
  }

  /** The traced run. After set-up and `tracedWarmup` steps, on local[N]:
    * the first half of `tracedSteps` (rounded up) traced, `tracedSteps`
    * untraced, the rest traced, so both sides see the same warm-up; the
    * traced steps and `finish` give the per-layer numbers, the untraced
    * ones the base of `harness.trace_overhead`. Then a fresh local[1]
    * session sets up, makes the `tracedWarmup` steps and runs
    * `serialSteps` traced steps; `harness.parallel_speedup` is their
    * wall time over that of the first `serialSteps` traced steps on
    * local[N]. The run's end-to-end numbers are never taken from here. */
  private def traced(o: Opts, w: Workload, cores: Int): Boolean = {
    val spark = session(cores, o.work)
    val tracer = new Tracer(cores)
    val ctx = new Ctx(spark, o.work, o.seed, cores, tracer)
    w.setup(ctx)
    val probeS = probe(spark)
    val (u, k, t) = (w.tracedWarmup, w.serialSteps, w.tracedSteps)
    val half = (t + 1) / 2
    steps(ctx, w, u, 0)
    tracer.start(spark)
    val parallelWall = steps(ctx, w, k, u)
    var tracedWall = parallelWall + steps(ctx, w, half - k, u + k)
    tracer.stop()
    val plainWall = steps(ctx, w, t, u + half)
    tracer.start(spark)
    tracedWall += steps(ctx, w, t - half, u + half + t)
    w.finish(ctx)
    w.close(ctx)
    tracer.stop()
    val layers = tracer.report().map { case (k, v) => w.layerAliases.getOrElse(k, k) -> v }
    dumpSpans(o, tracer, "")
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    val work1 = s"${o.work}/local1"
    val spark1 = session(1, work1)
    val tracer1 = new Tracer(1)
    val ctx1 = new Ctx(spark1, work1, o.seed, 1, tracer1)
    w.setup(ctx1)
    steps(ctx1, w, u, 0)
    tracer1.start(spark1)
    val serialWall = steps(ctx1, w, k, u)
    tracer1.stop()
    w.close(ctx1)
    dumpSpans(o, tracer1, "-local1")
    spark1.stop()
    ctx.attempted += ctx1.attempted
    ctx.failed += ctx1.failed
    ctx.failures ++= ctx1.failures

    val all = layers ++ Map("harness.probe_s" -> probeS,
      "harness.trace_overhead" -> tracedWall / plainWall,
      "harness.parallel_speedup" -> serialWall / parallelWall)
    println(f"$t steps: traced $tracedWall%.3f s, untraced $plainWall%.3f s; " +
      f"$k steps: local[$cores] $parallelWall%.3f s, local[1] $serialWall%.3f s")
    ctx.failures.foreach(f => println(s"FAILED $f"))
    emit(ctx, all.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "") })
  }

  private def dumpSpans(o: Opts, t: Tracer, suffix: String): Unit = {
    val dir = new java.io.File(o.traces)
    dir.mkdirs()
    val f = new java.io.File(dir, s"${o.workload}-${o.seed}$suffix.jsonl")
    java.nio.file.Files.write(f.toPath, t.spansJson().mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** The last stdout line: every metric this run measured, by name with
    * its unit. The launcher picks the ones `BENCHMARK.json` lists. */
  private def emit(ctx: Ctx, metrics: Seq[(String, Double, String)]): Boolean = {
    val ok = ctx.failed == 0
    val body = metrics.filterNot(m => m._2.isNaN || m._2.isInfinite).map { case (k, v, u) =>
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": ${math.max(ctx.attempted, 1)}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    ok
  }

}
