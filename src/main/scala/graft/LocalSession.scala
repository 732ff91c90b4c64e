package graft

import org.apache.spark.sql.SparkSession

/** The local session the mains run on: `local[cpus]` with as many shuffle
  * partitions, UTC, AQE on and no UI, plus `confs`. ANSI is off:
  * permissive cast/parse semantics (null on failure) are the engine's
  * documented contract (SURVEY.md §1.2). The default `confs` hold
  * [[NanosAsLong]], which the events table's ns timestamps need. */
object LocalSession {
  val NanosAsLong: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  def apply(cpus: String, confs: Seq[(String, String)] = Seq(NanosAsLong),
      logLevel: String = "WARN"): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
