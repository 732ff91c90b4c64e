package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
  * job, stage, task and scan numbers that happened inside them.
  *
  * Off by default: `span` then only runs its body, and no listener is
  * registered. `start()` registers a `SparkListener` and a
  * `QueryExecutionListener`; from then on every span is kept in memory and
  * `report()` turns them into per-layer metrics. A job is attributed to the
  * span named by its `perfbench.span` local property when the submitting
  * thread carried it, else to the innermost span whose interval contains
  * the job's start (for a streaming query's jobs, the open span bound to
  * its job group). Metrics of a span name are summed over its instances; `jobs`,
  * byte counts and `exec_cpu_s` include child spans, `self_s` does not. */
final class Tracer(cores: Int) {
  import Tracer._

  private var spark: SparkSession = _
  private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val groups = mutable.HashMap.empty[String, String] // job group -> span name
  private val extras = mutable.LinkedHashMap.empty[String, Double]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val scans = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (exec id, end ms, files)
  private var listener: SparkListener = _
  private var qeListener: QueryExecutionListener = _

  def enabled: Boolean = on

  def start(session: SparkSession): Unit = {
    spark = session
    listener = new JobListener
    qeListener = new ScanListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stops recording and detaches the listeners; spans stay for `report`. */
  def stop(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Jobs of job group `group` (a streaming query's run id) belong to the
    * open span called `name`: the stream thread never sees our spans. */
  def bindGroup(group: String, name: String): Unit = synchronized { groups(group) = name }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get
      val s = synchronized {
        val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        s
      }
      open.set(s :: stack)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.set(stack)
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Adds `v` to a named per-layer value (summed over calls). */
  def add(metric: String, v: Double): Unit = synchronized {
    if (on) extras(metric) = extras.getOrElse(metric, 0.0) + v
  }

  def report(): Map[String, Double] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): List[Span] =
      if (id < 0) Nil else { val s = byId(id); s :: ancestors(s.parent) }
    def innermostAt(ms: Long, named: Option[String] = None): Int =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs && named.forall(_ == s.name))
        .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(-1)
    val inclusive = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Job]]
    val spanOfExec = mutable.HashMap.empty[Long, Int]
    jobs.values.foreach { j =>
      val sid = j.spanProp.filter(byId.contains)
        .getOrElse(innermostAt(j.startMs, j.group.flatMap(groups.get)))
      if (sid >= 0) {
        j.execId.foreach(e => spanOfExec.getOrElseUpdate(e, sid))
        ancestors(sid).foreach(a => inclusive.getOrElseUpdate(a.id, mutable.ArrayBuffer.empty) += j)
      }
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    def bump(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val wallByName = mutable.HashMap.empty[String, Double]
    spans.foreach { s =>
      val wall = (s.endNs - s.startNs) / 1e9
      val childWall = spans.filter(_.parent == s.id).map(c => (c.endNs - c.startNs) / 1e9).sum
      val js = inclusive.getOrElse(s.id, mutable.ArrayBuffer.empty)
      val covered = union(js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.toSeq) / 1e3
      wallByName(s.name) = wallByName.getOrElse(s.name, 0.0) + wall
      bump(s"${s.name}.self_s", math.max(0.0, wall - childWall))
      bump(s"${s.name}.jobs", js.length)
      bump(s"${s.name}.driver_s", math.max(0.0, wall - covered))
      bump(s"${s.name}.exec_cpu_s", js.map(_.cpuNs).sum / 1e9)
      bump(s"${s.name}.run_s", js.map(_.runMs).sum / 1e3)
      bump(s"${s.name}.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble)
      bump(s"${s.name}.spill_bytes", js.map(_.spillBytes).sum.toDouble)
      bump(s"${s.name}.input_bytes", js.map(_.inputBytes).sum.toDouble)
      bump(s"${s.name}.output_bytes", js.map(_.outputBytes).sum.toDouble)
    }
    scans.foreach { case (exec, endMs, files) =>
      val sid = spanOfExec.getOrElse(exec, innermostAt(endMs))
      if (sid >= 0) ancestors(sid).foreach(a => bump(s"${a.name}.files_scanned", files.toDouble))
    }
    wallByName.foreach { case (name, wall) =>
      out(s"$name.util") = out.getOrElse(s"$name.run_s", 0.0) / math.max(wall * cores, 1e-9)
    }
    out ++= extras
    out.toMap
  }

  /** Spans as JSON lines: id, name, parent id, start and end (epoch ms), wall seconds. */
  def spansJson(): Seq[String] = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"wall_s":${(s.endNs - s.startNs) / 1e9}}"""
    }.toSeq
  }

  private class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val j = Job(e.time,
        props.flatMap(p => Option(p.getProperty(SpanProp))).flatMap(_.toIntOption),
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption),
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private class ScanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val files = scanFiles(qe.executedPlan)
      if (files > 0) Tracer.this.synchronized {
        scans += ((qe.id, System.currentTimeMillis(), files))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    private def scanFiles(plan: SparkPlan): Long =
      collectWithSubqueries(plan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
  }

  final case class Job(startMs: Long, spanProp: Option[Int], execId: Option[Long],
      group: Option[String]) {
    var endMs: Long = startMs
    var runMs, cpuNs, shuffleBytes, spillBytes, inputBytes, outputBytes = 0L
  }

  /** Total length of the union of closed intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
