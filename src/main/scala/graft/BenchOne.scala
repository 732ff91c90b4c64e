package graft

/** Dev tool: time individual queries. Usage:
  *   runMain graft.BenchOne <sfDir> <queryName> [queryName...]
  * Materializes through the noop sink exactly like Bench — count() lets
  * Catalyst prune every unused aggregate/projection, which made map- and
  * sketch-heavy queries look 10x faster here than in the honest bench.
  * Repeat a name to see steady-state (first run carries JIT/codegen warmup).
  * SPARK_GRAFT_CONF="k=v,k=v" sets extra session confs — e.g. A/B runs of
  * the engine toggles (spark.graft.pairgraph.cache, spark.graft.ivf.kmeans.iters).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    names.foreach { name =>
      graft.functions.PhaseTimer.arm()
      val t0 = System.nanoTime()
      val ok = try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable => System.err.println(s"$name FAILED: $e"); false }
      val status = if (ok) "ok" else "FAILED"
      println(f"BENCHONE $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s  $status")
      // per-leg attribution where the verb under test records phases
      // (PhaseTimer is a no-op in Bench/production — armed only here)
      val legs = graft.functions.PhaseTimer.drain()
      if (legs.nonEmpty)
        println("BENCHONE   legs: " + legs.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    }
    spark.stop()
  }
}
