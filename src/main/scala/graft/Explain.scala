package graft

/** Dev tool: dump formatted physical plans for plan-shape review.
  * Usage: runMain graft.Explain <sfDir> [queryName...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession("4", logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n########## $name ##########")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}
